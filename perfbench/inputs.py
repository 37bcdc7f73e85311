#!/usr/bin/env python3
"""Seeded input generators for the benchmark workloads.

Inputs are made from the seed before the measured JVM starts and written as
parquet; the program reads only those files. The same (workload, seed)
always gives the same tables, and `digest` gives an order-invariant
digest of each one.

The linking-scenario tables follow graft's `testkit.Scenario` exactly:
entity features are `substr(md5('<seed>-<entity>-<feature>'), 1, 10)`, each
source view applies per-slot variation rules, and row keys are
`<source>:<entity>:<slot>`. `run.py --check-inputs` regenerates them with
`Scenario` itself and compares digests.

    python3 perfbench/inputs.py er_batch 1 out_dir     # writes the tables
"""
import hashlib
import random
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FEATURES = ("company", "postcode")


def typo(at: int, ch: str):
    """Replace the character at index `at` (Scenario.Replace("^(.{at}).", "$1ch"))."""
    return lambda s: s[:at] + ch + s[at + 1:] if len(s) > at else s


def suffix(x: str):
    return lambda s: s + x


def prefix(x: str):
    return lambda s: x + s


# Variation slots (feature -> rule): two crm rows and three web rows per entity.
CRM_SLOTS = [{}, {"company": suffix(" ltd")}]
WEB_SLOTS = [
    {"company": typo(6, "z"), "postcode": suffix("-9")},
    {"company": prefix("the ")},
    {"company": typo(6, "z")},
]
ROWS_PER_ENTITY = len(CRM_SLOTS) + len(WEB_SLOTS)


def feature(seed: int, entity: int, name: str) -> str:
    return hashlib.md5(f"{seed}-{entity}-{name}".encode()).hexdigest()[:10]


def source(seed: int, entities, name: str, slots):
    """One source's rows (key, entity_id, company, postcode), Scenario.source order-free."""
    keys, ents, feats = [], [], {f: [] for f in FEATURES}
    for e in entities:
        base = {f: feature(seed, e, f) for f in FEATURES}
        for i, rules in enumerate(slots):
            keys.append(f"{name}:{e}:{i}")
            ents.append(e)
            for f in FEATURES:
                feats[f].append(rules.get(f, lambda s: s)(base[f]))
    return keys, ents, feats


def table(**cols) -> pa.Table:
    return pa.table(cols)


def linking_tables(seed: int, entities: int, judged: int) -> dict:
    """crm, web, truth (key, entity_id) and judgements (left_key, right_key,
    verdict): one endorsed and one rejected crm/web pair per judged entity."""
    out, truth_k, truth_e = {}, [], []
    for name, slots in (("crm", CRM_SLOTS), ("web", WEB_SLOTS)):
        keys, ents, feats = source(seed, range(entities), name, slots)
        out[name] = table(key=pa.array(keys), company=pa.array(feats["company"]),
                          postcode=pa.array(feats["postcode"]))
        truth_k += keys
        truth_e += ents
    out["truth"] = table(key=pa.array(truth_k), entity_id=pa.array(truth_e, pa.int64()))
    rnd = random.Random(seed)
    sampled = sorted(rnd.sample(range(entities), min(judged, entities)))
    left = [f"crm:{e}:0" for e in sampled] * 2
    right = [f"web:{e}:0" for e in sampled] + [f"web:{(e + 1) % entities}:0" for e in sampled]
    verdict = [1] * len(sampled) + [-1] * len(sampled)
    out["judgements"] = table(left_key=pa.array(left), right_key=pa.array(right),
                              verdict=pa.array(verdict, pa.int32()))
    return out


ER_ENTITIES = 4000
ER_JUDGED = 2000


def er_batch(seed: int) -> dict:
    return linking_tables(seed, ER_ENTITIES, ER_JUDGED)


DIM = 64


def vectors(rng, centres, n: int, first_id: int, noise: float = 0.35):
    which = rng.integers(0, len(centres), n)
    v = centres[which] + noise * rng.standard_normal((n, DIM))
    return table(vec_id=pa.array(np.arange(first_id, first_id + n), pa.int64()),
                 embedding=pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())))


# match_serve request payloads. The sizes and the mix (one request of each
# type per cycle) are assumed small interactive requests, not taken from a
# trace of matchbox client use. They reach the program only through the
# `serve_params` table, so this is the one place they are set.
MAX_CYCLES = 40
LOOKUP_PROBES = 8
INGEST_BATCH = 20
KNOWN_SHARE = 0.8
QUERY_BATCH = 5
INSERT_BATCH = 5
INSERT_IDS = 1_000_000_000
QUERY_IDS = 2_000_000_000
# embedding clusters of the match_serve corpus, queries and inserts
CENTRES = 8


def corpus(rng, families: int, centres, words=60, vocab=20000, edits=3):
    """docs (doc_id, text) in near-dup families of 1 to 4 members, their
    embeddings (vec_id = doc_id; a family's members sit close together
    around one cluster centre) and doc_truth (doc_id, family)."""
    ids, texts, fams, vecs = [], [], [], []
    for f in range(families):
        base = rng.integers(0, vocab, words)
        home = centres[rng.integers(0, len(centres))] + 0.35 * rng.standard_normal(DIM)
        for m in range(int(rng.integers(1, 5))):
            text = base.copy()
            if m > 0:
                text[rng.integers(0, words, edits)] = rng.integers(0, vocab, edits)
            ids.append(len(ids))
            texts.append(" ".join(f"w{w}" for w in text))
            fams.append(f)
            vecs.append(home + 0.02 * rng.standard_normal(DIM))
    docs = table(doc_id=pa.array(ids, pa.int64()), text=pa.array(texts))
    emb = table(vec_id=pa.array(ids, pa.int64()),
                embedding=pa.array(list(np.array(vecs, np.float32)), pa.list_(pa.float32())))
    truth = table(doc_id=pa.array(ids, pa.int64()), family=pa.array(fams, pa.int64()))
    return docs, emb, truth


SERVE_ENTITIES = 500
SERVE_FAMILIES = 250


def match_serve(seed: int) -> dict:
    """Reference sources and their truth, ingest micro-batches, the document
    corpus whose deduplicated embeddings are indexed, the query and insert
    payloads, and the request sizes (serve_params)."""
    n = SERVE_ENTITIES
    out = linking_tables(seed, n, judged=10)
    # ingest: known entities with a new typo, plus entities never seen
    rnd = random.Random(seed ^ 0x5EED)
    batches, keys, ents = [], [], []
    fresh = n
    for b in range(MAX_CYCLES):
        for i in range(INGEST_BATCH):
            if rnd.random() < KNOWN_SHARE:
                e = rnd.randrange(n)
            else:
                e, fresh = fresh, fresh + 1
            batches.append(b)
            keys.append(f"in{b}:{e}:{i}")
            ents.append(e)
    out["ingest"] = table(
        batch=pa.array(batches, pa.int32()), key=pa.array(keys),
        company=pa.array([typo(8, "q")(feature(seed, e, "company")) for e in ents]),
        postcode=pa.array([feature(seed, e, "postcode") for e in ents]),
        entity_id=pa.array(ents, pa.int64()))
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((CENTRES, DIM))
    out["docs"], out["vectors"], out["doc_truth"] = corpus(
        rng, SERVE_FAMILIES, centres)
    out["inserts"] = vectors(rng, centres, MAX_CYCLES * INSERT_BATCH, INSERT_IDS)
    out["queries"] = vectors(rng, centres, MAX_CYCLES * QUERY_BATCH, QUERY_IDS)
    params = {"max_cycles": MAX_CYCLES, "lookup_probes": LOOKUP_PROBES,
              "ingest_batch": INGEST_BATCH, "query_batch": QUERY_BATCH,
              "insert_batch": INSERT_BATCH, "query_ids": QUERY_IDS, "insert_ids": INSERT_IDS}
    out["serve_params"] = table(**{k: pa.array([v], pa.int64()) for k, v in params.items()})
    return out


GENERATORS = {"er_batch": er_batch, "match_serve": match_serve}


def write(tables: dict, out: Path) -> None:
    for name, t in tables.items():
        d = out / name
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(t, d / "part-0.parquet")


def digest(t: pa.Table) -> str:
    """Order-invariant: count, XOR and sum of per-row sha256 prefixes."""
    x, s = 0, 0
    for row in zip(*(c.to_pylist() for c in t.columns)):
        h = int.from_bytes(hashlib.sha256(repr(row).encode()).digest()[:8], "big")
        x ^= h
        s = (s + h) % (1 << 64)
    return f"{t.num_rows}-{x:016x}-{s:016x}"


def combined(digests: dict) -> str:
    """One digest for a workload's whole input set."""
    text = " ".join(f"{k}={v}" for k, v in sorted(digests.items()))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def generate(workload: str, seed: int, out: Path) -> dict:
    """Write the workload's inputs under `out`; returns {table: digest}."""
    tables = GENERATORS[workload](seed)
    write(tables, out)
    return {name: digest(t) for name, t in sorted(tables.items())}


if __name__ == "__main__":
    wl, seed, out = sys.argv[1], int(sys.argv[2]), Path(sys.argv[3])
    for k, v in generate(wl, seed, out).items():
        print(f"{k}={v}")
