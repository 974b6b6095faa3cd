"""Seeded input generator for the graft benchmark.

Every input the engine sees is written here, from the seed alone, under
the run's own directory: the same seed always gives byte-identical
tables, the same request order, split points and lookup keys.

The tables copy the shape of graft's shipped sf0.1 test data. Each
parameter below was read off those parquet files (DuckDB over
events/lineitem/documents.parquet); the figures in brackets are the
shipped values:

  events     100 000 rows; event_id 0..n-1 with ts ascending, uniform
             over 2024-01-01 .. 2024-01-30 [00:00:11 .. 23:59:25];
             ts is TIMESTAMP(MICROS, isAdjustedToUTC=false), as shipped;
             user_id uniform over 1 500 ids [1 500 distinct, 0..1499];
             5 event types, uniform [19 810 .. 20 302 each]; value
             exponential, 2 decimals [mean 49.87, median 34.77, min 0];
             props '{"k": 0..99}' [100 distinct]
  lineitem   600 000 rows; l_orderkey 0..149 999, l_partkey 0..19 999,
             l_suppkey 0..999, l_linenumber 1..7, l_quantity 1..50, all
             uniform; l_extendedprice uniform 900..105 000, 2 decimals
             [900.68 .. 104 999.91, median 52 923]; l_discount and l_tax
             uniform over [0, 0.10] and [0, 0.08] rounded to 2 decimals
             (so both ends carry half weight, as shipped); returnflag
             A/N/R x linestatus F/O uniform; l_shipdate one of 2 499 days
             from 1995-01-02 [.. 2001-11-04]
  documents  5 000 rows; doc_id 0..n-1; source src<doc_id mod 20>
             [250 per source]; lang en 0.40, de/es/fr/zh 0.15 each [0.41,
             0.14, 0.15, 0.15, 0.15]; text 10..99 words drawn uniformly
             from a 30-word vocabulary [31 words with "dup", 10..100
             tokens]; exactly 5 % of documents are another document
             plus " dup" [250 of 5 000], so the few exact duplicates
             (two such copies of one document) arise as shipped [8
             pairs]; n_chars = len(text)

The curation corpus (curate_bulk, ingest_serve) is a benchmark design,
not a measured shape: BASE_DOCS / 2 base documents built as above,
replicated twice; the second replica shifts every id by the base size
and rewrites one token of a PERTURB share of its documents, so the
shares of exact and near duplicates are fixed by construction
(`corpus_shares` measures the exact share).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark stream batch table column row key value hash "
         "join merge group agg sort order filter scan window query part "
         "line customer vector big small fast slow").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

BASE_DOCS = 5000
SOURCES = 20
DUP_SHARE = 0.05     # documents that copy another one plus " dup"
PERTURB = 0.5        # replica documents with one token rewritten

PIPELINES = ("q0_flagship_pipeline", "q20_curation_pipeline",
             "q28_retry_pipeline", "q32_training_export",
             "q33_media_curation", "q39_analytics_pipeline",
             "q41_maintenance_pipeline", "q42_parallel_pipeline",
             "q43_goto_pipeline")
CURATION = ("q20_curation_pipeline", "q32_training_export",
            "dq1_exact_dedup", "dq2_minhash_lsh", "dq4_simhash_pairs",
            "dq15_winnowing", "tq16_bpe_tokenize", "tq1_token_stats")
REGISTRIES = ("st15_incremental_neardup", "st16_incremental_stats",
              "st19_token_registry")

# workload -> (base documents, corpus replicas, ingest files, lookups
# per batch)
SHAPE = {
    "pipelines_small": (BASE_DOCS, 1, 0, 0),
    "curate_bulk": (BASE_DOCS // 2, 2, 0, 0),
    "ingest_serve": (BASE_DOCS // 2, 2, 4, 3),
}
# the input table each pipeline reads (docs_per_s counts its rows)
PIPELINE_TABLE = {"q0_flagship_pipeline": "events",
                  "q20_curation_pipeline": "documents",
                  "q28_retry_pipeline": "events",
                  "q32_training_export": "documents",
                  "q33_media_curation": "documents",
                  "q39_analytics_pipeline": "events",
                  "q41_maintenance_pipeline": "lineitem",
                  "q42_parallel_pipeline": "events",
                  "q43_goto_pipeline": "events"}
# rounds of the request order written to the plan; a run loops over them
PLAN_ROUNDS = 64
# seconds one timed round took on the reference host (4 vCPUs, shared),
# the median over ten seeded runs: 9 pipeline requests, or 4 ingest
# steps with their point reads. A run's round count is --seconds over
# this, at least one, so it does not change with the engine's speed.
ROUND_S = {"pipelines_small": 12.2, "curate_bulk": 14.0,
           "ingest_serve": 20.7}


def queries_of(workload: str) -> tuple:
    """The registered queries whose results a workload verifies."""
    return {"pipelines_small": PIPELINES, "curate_bulk": CURATION,
            "ingest_serve": REGISTRIES}[workload]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def events(rng: np.random.Generator, n: int = 100_000) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng: np.random.Generator, n: int = 600_000) -> pa.Table:
    day0 = np.datetime64("1995-01-02", "D")
    days = rng.integers(0, 2499, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150_000, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20_000, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 105_000.0, n), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(
            (day0 + days).astype("datetime64[us]")),
    })


def base_texts(rng: np.random.Generator, n: int = BASE_DOCS) -> list:
    """n documents of 10..99 vocabulary words; then a DUP_SHARE of them,
    in turn, become a copy of a random document plus " dup" (a copy of
    an already-copied document gives "... dup dup")."""
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                                   rng.integers(10, 100))])
             for _ in range(n)]
    for i in rng.choice(n, int(n * DUP_SHARE), replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return texts


def documents(rng: np.random.Generator, base_docs: int,
              replicas: int) -> pa.Table:
    """`base_docs` documents replicated `replicas` times, replica r
    shifting every id by r * base_docs; in
    replicas after the first, a PERTURB share of documents get one token
    replaced by another vocabulary word (a near duplicate of the
    original), the rest stay exact copies. Replicas keep each base
    document's source, which is src<id mod SOURCES> in every replica as
    long as base_docs is a multiple of SOURCES."""
    base = base_texts(rng, base_docs)
    langs = np.array(LANGS)[rng.choice(len(LANGS), base_docs, p=LANG_P)]
    sources = [f"src{i % SOURCES}" for i in range(base_docs)]
    ids, texts, ls, ss = [], [], [], []
    for r in range(replicas):
        for i, t in enumerate(base):
            if r > 0 and rng.random() < PERTURB:
                toks = t.split(" ")
                j = rng.integers(0, len(toks))
                toks[j] = VOCAB[(VOCAB.index(toks[j]) + 1) % len(VOCAB)
                                if toks[j] in VOCAB else 0]
                t = " ".join(toks)
            ids.append(r * base_docs + i)
            texts.append(t)
            ls.append(langs[i])
            ss.append(sources[i])
    return pa.table({
        "doc_id": pa.array(np.array(ids, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(ls),
        "source": pa.array(ss),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def corpus_shares(table: pa.Table) -> dict:
    """Size and measured exact-duplicate share of a documents table: the
    share of documents whose exact text occurred earlier."""
    texts = table.column("text").to_pylist()
    seen, exact = set(), 0
    for t in texts:
        exact += t in seen
        seen.add(t)
    return {"docs": len(texts), "exact_dup_share": round(exact / len(texts), 4)}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write every input of one run under `out`; return the plan."""
    if workload not in SHAPE:
        raise SystemExit(f"unknown workload {workload!r}; "
                         f"choose one of {sorted(SHAPE)}")
    base, replicas, n_files, lookups = SHAPE[workload]
    rng = np.random.default_rng(seed)
    data = os.path.join(out, "data")
    os.makedirs(data, exist_ok=True)
    docs = documents(rng, base, replicas)
    _write(docs, os.path.join(data, "documents.parquet"))
    plan = {"workload": workload, "seed": seed, "data": data,
            "queries": list(queries_of(workload)),
            "round_s": ROUND_S[workload],
            "inputs": {"documents": corpus_shares(docs)}}
    if workload == "pipelines_small":
        ev, li = events(rng), lineitem(rng)
        _write(ev, os.path.join(data, "events.parquet"))
        _write(li, os.path.join(data, "lineitem.parquet"))
        plan["inputs"].update(events={"rows": ev.num_rows},
                              lineitem={"rows": li.num_rows})
        rows = {"events": ev.num_rows, "lineitem": li.num_rows,
                "documents": docs.num_rows}
        plan["docs_per_request"] = {q: rows[t]
                                    for q, t in PIPELINE_TABLE.items()}
    elif workload == "curate_bulk":
        plan["docs_per_request"] = {q: docs.num_rows for q in CURATION}
    queries = queries_of(workload)
    if workload == "ingest_serve":
        # seeded split points over the id-ordered corpus: file sizes
        # vary by up to 30 % around the mean, so no file is near empty
        n = docs.num_rows
        w = np.cumsum(rng.uniform(0.7, 1.3, n_files))
        bounds = [0, *[int(round(n * x / w[-1])) for x in w]]
        split = os.path.join(out, "split")
        os.makedirs(split, exist_ok=True)
        files = []
        for i in range(n_files):
            part = docs.slice(bounds[i], bounds[i + 1] - bounds[i])
            path = os.path.join(split, f"part-{i:03d}.parquet")
            _write(part.select(["doc_id", "text", "source"]), path)
            files.append({"path": path, "docs": part.num_rows})
        plan["files"] = files
        # point reads after each commit, rotating over the three
        # committed tables: a source's stats row, a document's pairs
        # (ids ingested so far) and a vocabulary token's count
        kinds = ("stats", "pairs", "token")
        plan["lookups"] = []
        for i in range(n_files):
            for k in range(lookups):
                kind = kinds[k % 3]
                key = (f"src{int(rng.integers(0, SOURCES))}"
                       if kind == "stats"
                       else int(rng.integers(0, bounds[i + 1]))
                       if kind == "pairs"
                       else VOCAB[int(rng.integers(0, len(VOCAB)))])
                plan["lookups"].append({"kind": kind, "key": key,
                                        "bound": bounds[i + 1]})
        plan["lookups_per_batch"] = lookups
    else:
        plan["order"] = [[queries[j] for j in rng.permutation(len(queries))]
                         for _ in range(PLAN_ROUNDS)]
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f, indent=1)
    return plan
