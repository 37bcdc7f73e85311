package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Command-line options; see perfbench/README.md. */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    inputs: String = "",
    work: String = ".bench_build/work",
    checkScenario: Boolean = false)

/** Everything one workload run shares: session, tracer, components-path
  * probe, directories, and the running tally of attempts, failures and
  * checks.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val probe: ComponentsProbe,
    val opts: Opts, val inputDir: String, val workDir: String) {
  var attempted = 0
  var failed = 0
  /** When the first timed operation began (System.nanoTime). */
  var firstOpNs = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, String]

  def check(name: String, ok: Boolean, detail: String): Boolean = {
    checks += ((name, ok, detail)); ok
  }

  /** One attempted operation: an exception or a false result is a failure. */
  def attempt(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok =
      try body
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $what failed: $e")
          e.printStackTrace()
          false
      }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] $what: output check failed")
    }
  }
}

/** One timed operation (a batch pass or a request cycle). */
final case class Op(wallS: Double, cpuS: Double, traced: Boolean)

/** What a workload reports; [[Main]] adds set-up time and memory. */
final case class Outcome(
    ops: Seq[Op],
    precision: Double,
    recall: Double,
    layerScope: Seq[Span],
    extraLayers: Map[String, Double])

trait Workload {
  def name: String
  /** Untimed-for-`warm_s` operations between the cold one and the measured
    * ones: the first repeats still pay for JIT compilation, which moves
    * their wall and CPU time by a third between runs.
    */
  def warmups: Int
  def run(r: Run): Outcome
}

object Main {
  val Workloads: Seq[Workload] = Seq(ErBatch, MatchServe)

  /** Layers reported per traced run, named for the graft modules they time. */
  val Layers: Seq[String] = Seq(
    "sources", "dedupe", "link", "components", "lookup", "eval",
    "dedup", "ann_build", "ann_search", "ann_insert")

  /** Layers whose `spill_mb` is a metric; the others (small judgement,
    * query and insert batches) keep it in the trace file only, so the
    * metric list stays within 128.
    */
  val SpillLayers: Set[String] = Set(
    "sources", "dedupe", "link", "components", "lookup", "dedup", "ann_build")

  /** Per-layer metrics beyond the layer fields; a workload that does not
    * measure one reports 0.
    */
  val ExtraLayers: Seq[String] = Seq(
    "link.useful_ratio", "dedup.useful_ratio", "ann_recall", "dup_recall",
    "lookup_s_p50", "ingest_s_p50", "search_s_p50", "insert_s_p50", "request_s_p90",
    "peak_rss_mb")

  def processCpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Peak resident set of this process, MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Run operations until `seconds` have passed, at most `maxOps`: the cold
    * one, `w.warmups` warm-ups, then at least three measured ones. A traced
    * run traces the cold operation, runs the warm-ups and one more
    * untraced, then pairs of a traced and an untraced operation (at least
    * one pair, and only whole pairs), so the tracing overhead can be read
    * off the same process on operations that are equally warm.
    */
  def loop(r: Run, w: Workload, maxOps: Int = Int.MaxValue)(op: Int => Unit): Seq[Op] = {
    val tracing = r.tracer.enabled
    val first = measuredFrom(w, tracing)
    val minOps = first + (if (tracing) 2 else 3)
    val deadline = System.nanoTime() + (r.opts.seconds * 1e9).toLong
    val ops = mutable.ArrayBuffer.empty[Op]
    var i = 0
    while (i < minOps || (i < maxOps &&
        (System.nanoTime() < deadline || (tracing && (i - first) % 2 == 1)))) {
      val traced = tracing && (i == 0 || (i >= first && (i - first) % 2 == 0))
      r.tracer.enabled = traced
      val c0 = processCpuNanos()
      val t0 = System.nanoTime()
      if (i == 0) r.firstOpNs = t0
      op(i)
      ops += Op((System.nanoTime() - t0) / 1e9, (processCpuNanos() - c0) / 1e9, traced)
      i += 1
    }
    r.tracer.enabled = tracing
    ops.toSeq
  }

  /** Pairwise precision and recall of a clustering against planted truth,
    * from group sizes alone (no pair expansion), plus the number of truth
    * keys the clustering misses. Only pairs with at least one `focus` key
    * count.
    */
  def pairQuality(cluster: collection.Map[String, Long], entity: collection.Map[String, Long],
      focus: String => Boolean = _ => true): (Double, Double, Long) = {
    val keys = entity.keys.filter(cluster.contains).toSeq
    // pairs among n members touching at least one of m focus members
    def pairs(group: String => Any): Double = keys.groupBy(group).values.map { ks =>
      val n = ks.size.toDouble
      val m = ks.count(focus).toDouble
      n * (n - 1) / 2 - (n - m) * (n - m - 1) / 2
    }.sum
    val tp = pairs(k => (cluster(k), entity(k)))
    val predicted = pairs(cluster)
    val actual = pairs(entity)
    (if (predicted == 0) 0.0 else tp / predicted, if (actual == 0) 0.0 else tp / actual,
      (entity.size - keys.size).toLong)
  }

  /** Index of the first measured operation (after the cold one and the
    * warm-ups; traced, after one more untraced warm-up).
    */
  def measuredFrom(w: Workload, tracing: Boolean): Int = 1 + w.warmups + (if (tracing) 1 else 0)

  /** Distinct undirected non-loop edges: what the components resolver
    * compares with its driver-path threshold. Reported next to the path
    * the resolver took; the path itself is observed, not derived from it.
    */
  def resolverEdges(pairs: Iterable[(Long, Long)]): Int =
    pairs.collect { case (a, b) if a != b => (math.max(a, b), math.min(a, b)) }.toSet.size

  /** Share of distinct pairs whose ends belong to the same entity. */
  def usefulRatio(pairs: Iterable[(Long, Long)], entityOfId: collection.Map[Long, Long]): Double = {
    val distinct = pairs.toSet
    if (distinct.isEmpty) 0.0
    else distinct.count { case (a, b) => entityOfId.get(a).exists(entityOfId.get(b).contains) }
      .toDouble / distinct.size
  }

  /** (left_id, right_id) rows of a pair frame, collected. */
  def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("left_id").cast("long"), col("right_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** key → entity and id → entity maps of a (key, entity_id) truth frame. */
  def truthMaps(truth: DataFrame): (Map[String, Long], Map[Long, Long]) = {
    val rows = truth.select(col("key"), col("entity_id"), Inputs.idOf(col("key"))).collect()
    (rows.map(r => r.getString(0) -> r.getLong(1)).toMap,
      rows.map(r => r.getLong(2) -> r.getLong(1)).toMap)
  }

  private def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--inputs" :: v :: t => go(o.copy(inputs = v), t)
      case "--work" :: v :: t => go(o.copy(work = v), t)
      case "--check-scenario" :: t => go(o.copy(checkScenario = true), t)
      case Nil => o
      case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
    }
    go(Opts(), args.toList)
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = Workloads.find(_.name == opts.workload)
    if (!opts.checkScenario && workload.isEmpty) {
      System.err.println(s"unknown workload '${opts.workload}'; one of " +
        Workloads.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val workDir = new java.io.File(opts.work).getAbsoluteFile
    deleteTree(workDir)
    workDir.mkdirs()
    // the shipped session, on at most 4 cores
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = graft.GraftSession.create(s"local[$cores]", cores)
    val sessionS =
      (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sessionNs = System.nanoTime()
    spark.sparkContext.setLogLevel("ERROR")
    graft.BlockCleanup.muteBenignCleanupSpam()
    val code =
      try {
        if (opts.checkScenario) checkScenario(spark, opts)
        else runWorkload(spark, opts, workload.get, workDir.getPath, sessionS, sessionNs)
      } finally {
        spark.stop()
        deleteTree(workDir)
      }
    sys.exit(code)
  }

  /** The generated linking tables equal graft's own Scenario output. */
  private def checkScenario(spark: SparkSession, opts: Opts): Int = {
    val ok = Inputs.matchesScenario(spark, opts.inputs, opts.seed)
    println(s"linking inputs equal testkit.Scenario for seed ${opts.seed}: $ok")
    if (ok) 0 else 1
  }

  private def runWorkload(spark: SparkSession, opts: Opts, w: Workload, work: String,
      sessionS: Double, sessionNs: Long): Int = {
    val inputDir = opts.inputs
    val tracer = new Tracer(spark, opts.trace)
    val r = new Run(spark, tracer, new ComponentsProbe(spark.sparkContext), opts, inputDir, work)
    val run0 = System.nanoTime()
    val out = w.run(r)
    r.info("run_and_check_s") = f"${(System.nanoTime() - run0) / 1e9}%.3f"

    val measured = out.ops.drop(measuredFrom(w, opts.trace))
    val warmOps = measured.filterNot(_.traced)
    // process start until the first timed operation can begin
    val afterSessionS = (r.firstOpNs - sessionNs) / 1e9
    val setupS = sessionS + afterSessionS
    val errorRate = if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted
    val correct = r.failed == 0 && r.checks.forall(_._2) && r.attempted > 0

    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("first_s", out.ops.head.wallS, "s"),
      ("warm_s", median(warmOps.map(_.wallS)), "s"),
      ("warm_cpu_s", median(warmOps.map(_.cpuS)), "CPU-s"),
      ("precision", out.precision, "ratio"),
      ("recall", out.recall, "ratio"))

    println(s"workload ${w.name} seed=${opts.seed} seconds=${opts.seconds} " +
      s"trace=${if (opts.trace) 1 else 0}")
    r.info.foreach { case (k, v) => println(s"  $k: $v") }
    println(f"  session_s: $sessionS%.3f  set-up after session (s): $afterSessionS%.3f")
    println(s"  ops (s): ${out.ops.map(o => f"${o.wallS}%.3f${if (o.traced) "*" else ""}").mkString(", ")}" +
      s"  (n=${out.ops.size}; * = traced)")
    println(s"  ops (CPU-s): ${out.ops.map(o => f"${o.cpuS}%.2f").mkString(", ")}")
    r.checks.foreach { case (n, ok, d) => println(s"  check ${if (ok) "ok  " else "FAIL"} $n: $d") }
    println(f"  error_rate: $errorRate%.4f (${r.failed}/${r.attempted})  peak_rss_mb: ${peakRssMb()}%.1f")

    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) endToEnd
      else {
        val scope = out.layerScope
        val layers = for {
          l <- Layers
          t = Tracer.totals(scope.filter(_.name == l))
          f <- Tracer.Fields
          if f != "spill_mb" || SpillLayers(l)
        } yield (s"$l.$f", t(f), unitOf(f))
        // traced minus untraced time of each (traced, untraced) pair after
        // the warm-up; a difference below zero is noise, not a saving
        val diffs = measured.grouped(2).collect {
          case Seq(t, u) if t.traced && !u.traced => t.wallS - u.wallS
        }.toSeq
        val overhead = median(diffs)
        println(s"  trace overhead pairs (traced - untraced, s): " +
          diffs.map(d => f"$d%.3f").mkString(", "))
        val extraValues = out.extraLayers + ("peak_rss_mb" -> peakRssMb())
        val extras = ExtraLayers.map(k => (k, extraValues.getOrElse(k, 0.0), unitOf(k)))
        layers ++ extras :+
          (("trace_overhead_s", if (overhead.isNaN) 0.0 else math.max(0.0, overhead), "s"))
      }
    metrics.foreach { case (n, v, u) => println(s"  metric $n = ${Json.num(v)} $u") }

    if (opts.trace) {
      val path = s".bench_build/traces/${w.name}-${opts.seed}.json"
      val f = new java.io.File(path)
      Option(f.getParentFile).foreach(_.mkdirs())
      java.nio.file.Files.write(f.toPath, tracer.toJson.getBytes("UTF-8"))
      println(s"  trace written: $path")
    }
    val metricJson = metrics.map { case (n, v, u) =>
      Json.str(n) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},"metrics":$metricJson}""")
    if (correct) 0 else 1
  }

  private def unitOf(field: String): String = field.split('.').last match {
    case "jobs" | "tasks" | "janino_compiles" => "count"
    case "optimizer_ms" | "janino_ms" => "ms"
    case f if f.endsWith("_mb") => "MB"
    case f if f.endsWith("_s") || f == "s" || f.contains("_s_") => "s"
    case _ => "ratio"
  }
}
