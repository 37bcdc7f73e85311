package graftbench

import graft.eval.PrecisionRecall
import graft.functions.Hashing
import graft.operators.{Components, Dedupe, Link, Lookup}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** er_batch: the matchbox batch DAG over two seeded linking-scenario
  * sources — read and row-hash index, naive dedupe per source, blocked
  * multi-level Fellegi–Sunter link across sources, connected components
  * over dedupe ∪ link edges, cluster lookup, and precision/recall against
  * sampled judgements. One pass is the whole DAG.
  */
object ErBatch extends Workload {
  val name = "er_batch"
  /** Its passes run many small jobs; wall and CPU time settle from the
    * fourth pass on.
    */
  val warmups = 2

  /** Edge budget for the driver-side union-find. The pass passes it
    * explicitly, below its edge count, so the distributed large-star /
    * small-star rounds are the path this workload measures; the output
    * checks confirm from the queries Components ran that it took that path.
    */
  val ComponentsThreshold = 10000L

  val Blocking = Seq("l.postcode = r.postcode", "l.blk = r.blk")
  val Comparisons = Seq(
    Link.LevelComparison(
      Seq("l.company = r.company",
        "jaro_winkler_similarity(l.company, r.company) >= 0.95",
        "jaro_winkler_similarity(l.company, r.company) >= 0.88"),
      Seq(-10.0, 3.0, 5.0, 7.0)),
    Link.LevelComparison(Seq("l.postcode = r.postcode"), Seq(-1.0, 1.0)))
  val LinkThreshold = 2.0

  /** Read one source and attach its record id and row-hash index. */
  def indexed(spark: SparkSession, dir: String, source: String): DataFrame = {
    val raw = Inputs.read(spark, dir, source)
    raw.select(
      Inputs.idOf(col("key")).as("id"), col("key"), col("company"), col("postcode"),
      Hashing.rowHash(raw, Inputs.Features).as("row_hash"))
  }

  def blocked(df: DataFrame): DataFrame = df.withColumn("blk", substring(col("company"), 1, 4))

  def pairEdges(df: DataFrame): DataFrame =
    df.select(col("left_id").as("src"), col("right_id").as("dst"))

  /** Run a Components call as the `components` layer under the probe.
    * Traced, the span records `edges` (the distinct pair edges fed in) and
    * `threshold` next to the path the call took; the path is returned with
    * the frame.
    */
  def resolve(r: Run, pairs: => Seq[DataFrame], threshold: String)(
      call: => DataFrame): (DataFrame, String) = {
    var path = "none"
    // by-name: only a traced run counts the edges
    val out = r.tracer.layer("components", Map(
      "edges" -> Main.resolverEdges(pairs.flatMap(Main.pairsOf)).toString,
      "threshold" -> threshold)) {
      val (df, p) = r.probe.watch(call)
      path = p
      r.tracer.attr("path", p)
      df
    }
    (out, path)
  }

  final case class PassOut(digest: String, eval: Row, dedupes: Seq[DataFrame], links: DataFrame,
      lookup: DataFrame, componentsPath: String)

  def pass(r: Run, judgements: DataFrame): PassOut = {
    val spark = r.spark
    val dir = r.inputDir
    val tr = r.tracer
    val crm = tr.layer("sources")(indexed(spark, dir, "crm"))
    val web = tr.layer("sources")(indexed(spark, dir, "web"))
    val dedupes = Seq(crm, web).map(s => tr.layer("dedupe")(Dedupe.naive(s, "id", Seq("postcode"))))
    val links = tr.layer("link")(Link.fellegiSunterLevelsMulti(
      blocked(crm), blocked(web), "id", "id", Blocking, Comparisons, LinkThreshold))
    val edges = (dedupes :+ links).map(pairEdges).reduce(_ union _)
    val (comp, path) = resolve(r, dedupes :+ links, ComponentsThreshold.toString)(
      Components.connected(edges, smallGraphThreshold = ComponentsThreshold))
    val members = Seq("crm" -> crm, "web" -> web).map { case (n, s) =>
      s.select(col("id"), lit(n).as("source"), col("key").as("rec_key"))
    }.reduce(_ unionByName _)
    val lookup = tr.layer("lookup")(Lookup.asLookup(comp, members))
    val eval = tr.span("eval")(_ => PrecisionRecall(comp, judgements).head())
    val digest = Seq(lookup, crm.select("id", "row_hash"), web.select("id", "row_hash"))
      .map(Inputs.digest).mkString("/")
    PassOut(digest, eval, dedupes, links, lookup, path)
  }

  def run(r: Run): Outcome = {
    val spark = r.spark
    val dir = r.inputDir
    // set-up: open the sources (schema and file listing) and key the
    // judgements by record id
    Seq("crm", "web").foreach(t => Inputs.read(spark, dir, t).schema)
    val judgements = Inputs.judgements(spark, dir).localCheckpoint(eager = true)
    var passes = Vector.empty[PassOut]
    var cold: Option[Span] = None
    val ops = Main.loop(r, this) { i =>
      r.attempt(s"pass $i") {
        val p = r.tracer.span("pass") { s =>
          if (i == 0 && r.tracer.enabled) cold = Some(s)
          pass(r, judgements)
        }
        passes :+= p
        // every pass must reproduce the first pass's output exactly
        p.digest == passes.head.digest
      }
    }
    // ---- output checks (untimed) ----
    val last = passes.last
    val linkPairs = Main.pairsOf(last.links)
    val nEdges = Main.resolverEdges(last.dedupes.flatMap(Main.pairsOf) ++ linkPairs)
    r.info("pass_output_digest") = passes.head.digest
    r.info("rows_per_entity") = Inputs.RowsPerEntity.toString
    r.info("match_edges") = nEdges.toString
    r.info("components_threshold") = ComponentsThreshold.toString
    val paths = passes.map(_.componentsPath)
    r.info("components_path") = paths.mkString(",")
    r.check("components path", paths.forall(_ == "distributed"),
      s"every pass ran distributed large-star/small-star queries (${paths.mkString(",")}); " +
        s"$nEdges edges, threshold $ComponentsThreshold")
    val (entityOf, entityOfId) = Main.truthMaps(Inputs.read(spark, dir, "truth"))
    r.info("entities") = (entityOf.size / Inputs.RowsPerEntity).toString
    val cluster = last.lookup.select("rec_key", "cluster_id").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val (precision, recall, missing) = Main.pairQuality(cluster, entityOf)
    r.check("every record resolved", missing == 0, s"$missing truth keys missing from the lookup")
    r.check("pair precision", precision >= 0.97, f"$precision%.5f >= 0.97")
    r.check("pair recall", recall >= 0.97, f"$recall%.5f >= 0.97")
    val ev = last.eval
    val nValidation = ev.getAs[Any]("n_validation").toString.toLong
    val judged = judgements.filter(col("verdict") > 0).count()
    r.check("eval judgements", nValidation == judged,
      s"graft.eval counted $nValidation endorsed pairs of $judged judged")
    r.info("eval_precision") = ev.getAs[Any]("precision").toString
    r.info("eval_recall") = ev.getAs[Any]("recall").toString
    Outcome(
      ops = ops,
      precision = precision,
      recall = recall,
      layerScope = cold.map(r.tracer.subtree).getOrElse(Nil),
      extraLayers = Map("link.useful_ratio" -> Main.usefulRatio(linkPairs, entityOfId)))
  }
}
