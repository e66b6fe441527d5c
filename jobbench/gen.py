"""Seeded input generator for the job benchmark.

Each workload gets a work directory holding everything the program reads
(parquet tables, the job manifest, task manifests) plus `meta.json` and
`truth/`, which only the benchmark's checks read. The same (workload, seed,
scale) always produces byte-identical files: every random draw comes from a
numpy Generator seeded with (seed, stream), and nothing embeds a path, a
clock or a host name.

    python3 jobbench/gen.py --workload curate --seed 7 --out /tmp/w
"""

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("curate", "warehouse", "orchestrate")

# Row counts per scale. `bench` is what the benchmark measures; `tiny` is the
# smoke-test scale (about sf0.001 of the star schema).
SCALES = {
    "bench": dict(docs=1600, vecs=600, orders=40_000, lines_per_order=4,
                  events=30_000, users=800, items=2000, chain=80,
                  emits=100, emit_lines=100, side_docs=1000, side_vecs=400,
                  side_events=10_000),
    "tiny": dict(docs=300, vecs=120, orders=1500, lines_per_order=4,
                 events=1000, users=60, items=200, chain=12, emits=6,
                 emit_lines=20, side_docs=150, side_vecs=80, side_events=600),
}

# Fixed vocabulary: consonant-vowel syllable pairs, plus the stopwords the
# language-ID heuristic counts. Independent of the seed.
_CONS = "bcdfghjklmnprstvwz"
_VOWS = "aeiou"
VOCAB = ["the", "a", "of", "and", "to", "in", "is", "that"] + [
    c1 + v1 + c2 + v2
    for c1 in _CONS[:12] for v1 in _VOWS for c2 in _CONS[6:] for v2 in _VOWS[:2]
][:1200]
_FOREIGN = {"fr": ["le", "la", "les", "de", "et", "un", "une", "est"],
            "de": ["der", "die", "das", "und", "ein", "eine", "ist", "von"]}

UTC = dt.timezone.utc
DIMS = 64


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _zipf_probs(n):
    p = 1.0 / (np.arange(n) + 10.0)
    return p / p.sum()


# ---- curate ----------------------------------------------------------------

def _corpus(seed, n_docs, stream):
    """Word-soup documents with seeded exact and near duplicates.

    Returns (rows, families): rows are (doc_id, text, lang, source, n_chars);
    families maps doc_id -> id of the original the document was copied from.
    """
    r = _rng(seed, stream)
    probs = _zipf_probs(len(VOCAB))
    n_base = int(n_docs / 1.35)
    bases = []
    for _ in range(n_base):
        kind = r.random()
        if kind < 0.05:                      # too short: filtered out
            toks = list(r.choice(VOCAB, size=r.integers(3, 8), p=probs))
        elif kind < 0.09:                    # digit-heavy: filtered out
            toks = [str(x) for x in r.integers(1000, 99999, size=r.integers(20, 50))]
        else:
            toks = list(r.choice(VOCAB, size=r.integers(30, 110), p=probs))
        lang = "en"
        if r.random() < 0.1:
            lang = "fr" if r.random() < 0.5 else "de"
            pos = r.integers(0, len(toks), size=max(1, len(toks) // 6))
            for p in pos:
                toks[p] = r.choice(_FOREIGN[lang])
        bases.append((toks, lang))
    docs = []                                # (tokens, lang, family)
    for fam, (toks, lang) in enumerate(bases):
        docs.append((toks, lang, fam))
    while len(docs) < n_docs:
        fam = int(r.integers(0, n_base))
        toks, lang = bases[fam]
        toks = list(toks)
        if r.random() < 0.4:                 # exact copy
            pass
        else:                                # near copy: rewrite ~2% of tokens
            k = max(1, int(round(len(toks) * r.uniform(0.005, 0.04))))
            for p in r.integers(0, len(toks), size=k):
                toks[p] = VOCAB[int(r.integers(8, len(VOCAB)))]
        docs.append((toks, lang, fam))
    order = r.permutation(len(docs))         # doc_id order unrelated to family
    rows, families = [], {}
    for doc_id, i in enumerate(order):
        toks, lang, fam = docs[i]
        text = " ".join(toks)
        rows.append((doc_id, text, lang, "src%d" % (doc_id % 7), len(text)))
        families[doc_id] = fam
    return rows, families


def _docs_table(rows):
    cols = list(zip(*rows))
    return pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })


def _embeddings(seed, n, stream):
    r = _rng(seed, stream)
    k = 24
    cents = r.normal(size=(k, DIMS))
    label = r.integers(0, k, size=n)
    vecs = (cents[label] + 0.6 * r.normal(size=(n, DIMS))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def _events(seed, n, users, stream):
    r = _rng(seed, stream)
    start = dt.datetime(2024, 1, 1, tzinfo=UTC)
    gaps = r.exponential(30.0, size=n)
    secs = np.cumsum(gaps)
    ts = [start + dt.timedelta(microseconds=int(s * 1e6)) for s in secs]
    types = np.array(["view", "click", "purchase", "signup", "error"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(r.integers(0, users, size=n), pa.int64()),
        "event_type": pa.array(types[r.integers(0, 5, size=n)].tolist(), pa.string()),
        "value": pa.array(np.round(r.uniform(0, 500, size=n), 2), pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in r.integers(0, 100, size=n)],
                          pa.string()),
    })


def _side_corpus(seed, sc, inp):
    """Small corpus and vectors for the traced run's llm timings on workloads
    whose own job has none."""
    rows, _ = _corpus(seed, sc["side_docs"], stream=91)
    _write(_docs_table(rows), os.path.join(inp, "side_documents.parquet"))
    _write(_embeddings(seed, sc["side_vecs"], stream=92),
           os.path.join(inp, "side_embeddings.parquet"))


def _side_events(seed, sc, inp):
    """Small event table for the traced run's plans timings on workloads
    whose own job has none."""
    _write(_events(seed, sc["side_events"], max(10, sc["side_events"] // 50), 93),
           os.path.join(inp, "side_events.parquet"))


def gen_curate(seed, sc, out):
    inp = os.path.join(out, "data", "in")
    r = _rng(seed, 3)
    min_tokens = int(r.integers(10, 16))
    max_digit = round(float(r.uniform(0.15, 0.3)), 3)
    rows, families = _corpus(seed, sc["docs"], stream=1)
    _write(_docs_table(rows), os.path.join(inp, "documents.parquet"))
    _write(_embeddings(seed, sc["vecs"], stream=2),
           os.path.join(inp, "embeddings.parquet"))
    _side_events(seed, sc, inp)
    fam = sorted(families.items())
    _write(pa.table({"doc_id": pa.array([f[0] for f in fam], pa.int64()),
                     "family": pa.array([f[1] for f in fam], pa.int64())}),
           os.path.join(out, "truth", "families.parquet"))
    predicate = "n_tokens >= %d AND digit_ratio <= %s" % (min_tokens, max_digit)
    manifest = f"""name: curate
description: LLM-curation pipeline over a seeded corpus
data: data
env:
  IN: ${{job.data}}/in
  OUT: ${{job.data}}/out
commands:
  - name: docs
    task: read-parquet
    env:
      PATH: ${{job.env.IN}}/documents.parquet
      OUTPUT: docs
  - name: quality
    task: text-quality
    env:
      INPUT: ${{previous.env.OUTPUT}}
      OUTPUT: docs_quality
  - name: keep
    task: filter
    env:
      INPUT: ${{previous.env.OUTPUT}}
      PREDICATE: "{predicate}"
      OUTPUT: docs_kept
  - name: exact
    task: dedup-exact
    env:
      INPUT: ${{previous.env.OUTPUT}}
      KEYS: text
      ORDER: doc_id
      OUTPUT: docs_exact
  - name: near
    task: minhash-dedup
    env:
      INPUT: ${{previous.env.OUTPUT}}
      OUTPUT: docs_curated
  - name: write-docs
    task: write-parquet
    env:
      INPUT: ${{previous.env.OUTPUT}}
      PATH: ${{job.env.OUT}}/curated
  - name: vecs
    task: read-parquet
    env:
      PATH: ${{job.env.IN}}/embeddings.parquet
      OUTPUT: vecs
  - name: knn
    task: similarity-topk
    env:
      INPUT: ${{previous.env.OUTPUT}}
      K: 5
      OUTPUT: knn
  - name: write-knn
    task: write-parquet
    env:
      INPUT: ${{previous.env.OUTPUT}}
      PATH: ${{job.env.OUT}}/knn
"""
    meta = {
        "workload": "curate", "seed": seed,
        "setup_table": "documents.parquet",
        "warmup_jobs": 3,
        "source_rows": len(rows) + sc["vecs"],
        "outputs": ["curated", "knn"],
        "predicate": predicate, "knn_k": 5, "min_jaccard": 0.8,
        "llm_docs": "documents.parquet", "llm_vecs": "embeddings.parquet",
        "asof_events": "side_events.parquet",
    }
    return manifest, meta


# ---- warehouse ---------------------------------------------------------------

def gen_warehouse(seed, sc, out):
    inp = os.path.join(out, "data", "in")
    r = _rng(seed, 10)
    n_orders = sc["orders"]
    cust = max(10, n_orders // 10)
    base = dt.datetime(1992, 1, 1, tzinfo=UTC)
    day = np.int64(86_400_000_000)
    odays = r.integers(0, 2400, size=n_orders)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, cust, size=n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            r.integers(0, 3, size=n_orders)].tolist(), pa.string()),
        "o_totalprice": pa.array(np.round(r.uniform(900, 400_000, size=n_orders), 2),
                                 pa.float64()),
        "o_orderdate": pa.array(odays * day + int(base.timestamp() * 1e6),
                                pa.timestamp("us", tz="UTC")),
        "o_orderpriority": pa.array(prio[r.integers(0, 5, size=n_orders)].tolist(),
                                    pa.string()),
    })
    n_lines = n_orders * sc["lines_per_order"]
    lok = r.integers(0, n_orders, size=n_lines)
    lok.sort()
    first = np.searchsorted(lok, lok)       # line number within the order
    lnum = (np.arange(n_lines) - first + 1).astype(np.int32)
    lineitem = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(r.integers(0, 20_000, size=n_lines), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 1000, size=n_lines), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, size=n_lines).astype(float),
                               pa.float64()),
        "l_extendedprice": pa.array(np.round(r.uniform(900, 100_000, size=n_lines), 2),
                                    pa.float64()),
        "l_discount": pa.array(r.integers(0, 11, size=n_lines) / 100.0, pa.float64()),
        "l_tax": pa.array(r.integers(0, 9, size=n_lines) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[
            r.integers(0, 3, size=n_lines)].tolist(), pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"])[
            r.integers(0, 2, size=n_lines)].tolist(), pa.string()),
        "l_shipdate": pa.array((odays[lok] + r.integers(1, 122, size=n_lines)) * day
                               + int(base.timestamp() * 1e6),
                               pa.timestamp("us", tz="UTC")),
    })
    _write(orders, os.path.join(inp, "orders.parquet"))
    _write(lineitem, os.path.join(inp, "lineitem.parquet"))
    _write(_events(seed, sc["events"], sc["users"], stream=11),
           os.path.join(inp, "events.parquet"))
    _side_corpus(seed, sc, inp)
    cutoff = (base + dt.timedelta(days=int(r.integers(1500, 2300)))).date()
    max_disc = 0.1
    sums = ("count(*) AS n_lines, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty, "
            "sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS sum_base, "
            "sum(CAST(l_extendedprice AS DECIMAL(15,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS sum_disc_price")
    agg_sql = (f"SELECT l_returnflag, l_linestatus, o_orderpriority, {sums} "
               f"FROM fact WHERE l_shipdate <= DATE '{cutoff}' "
               "GROUP BY l_returnflag, l_linestatus, o_orderpriority")
    manifest = f"""name: warehouse
description: star-schema join, aggregates, data quality and an as-of join
data: data
env:
  IN: ${{job.data}}/in
  OUT: ${{job.data}}/out
commands:
  - name: lineitem
    task: read-parquet
    env:
      PATH: ${{job.env.IN}}/lineitem.parquet
      OUTPUT: lineitem
  - name: orders
    task: read-parquet
    env:
      PATH: ${{job.env.IN}}/orders.parquet
      OUTPUT: orders
  - name: fact
    task: sql
    env:
      QUERY: >-
        SELECT l.*, o.o_custkey, o.o_orderstatus, o.o_orderdate, o.o_orderpriority
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      OUTPUT: fact
  - name: quality-gate
    task: dq-check
    env:
      INPUT: fact
      RULES: "not_null:l_orderkey,not_null:o_orderdate,min:l_quantity:1,max:l_discount:{max_disc}"
      OUTPUT: dq_report
  - name: orders-unique
    task: dq-check
    env:
      INPUT: orders
      RULES: "unique:o_orderkey,not_null:o_custkey"
      OUTPUT: dq_orders
  - name: pricing
    task: sql
    env:
      QUERY: "{agg_sql}"
      OUTPUT: pricing
  - name: write-pricing
    task: write-parquet
    env:
      INPUT: ${{previous.env.OUTPUT}}
      PATH: ${{job.env.OUT}}/pricing
  - name: profile-orders
    task: profile
    env:
      INPUT: orders
      COLUMNS: o_totalprice,o_orderstatus
      OUTPUT: orders_profile
  - name: write-profile
    task: write-parquet
    env:
      INPUT: ${{previous.env.OUTPUT}}
      PATH: ${{job.env.OUT}}/profile
  - name: events
    task: read-parquet
    env:
      PATH: ${{job.env.IN}}/events.parquet
      OUTPUT: events
  - name: actions
    task: filter
    env:
      INPUT: events
      PREDICATE: "event_type <> 'view'"
      OUTPUT: actions
  - name: views
    task: filter
    env:
      INPUT: events
      PREDICATE: "event_type = 'view'"
      OUTPUT: views_raw
  - name: views-renamed
    task: select
    env:
      INPUT: ${{previous.env.OUTPUT}}
      COLUMNS: "user_id AS v_user, ts AS v_ts, event_id AS v_event_id, value AS v_value"
      OUTPUT: views
  - name: last-view
    task: asof-join
    env:
      LEFT: actions
      RIGHT: views
      LEFT_KEY: user_id
      RIGHT_KEY: v_user
      LEFT_TIME: ts
      RIGHT_TIME: v_ts
      RIGHT_TIE: v_event_id
      OUTPUT: actions_last_view
  - name: write-asof
    task: write-parquet
    env:
      INPUT: ${{previous.env.OUTPUT}}
      PATH: ${{job.env.OUT}}/asof
  - name: write-fact
    task: write-parquet
    env:
      INPUT: fact
      PATH: ${{job.env.OUT}}/fact
      PARTITION_BY: o_orderpriority
"""
    meta = {
        "workload": "warehouse", "seed": seed,
        "setup_table": "lineitem.parquet",
        "warmup_jobs": 3,
        "source_rows": n_orders + n_lines + sc["events"],
        "outputs": ["pricing", "profile", "asof", "fact"],
        "cutoff": str(cutoff),
        "llm_docs": "side_documents.parquet", "llm_vecs": "side_embeddings.parquet",
        "asof_events": "events.parquet",
    }
    return manifest, meta


# ---- orchestrate -------------------------------------------------------------

EMIT_TASK = """name: {name}
description: emits numbered log lines
run:
  interpreter: /bin/sh -c
  script: |
    i=0
    while [ "$i" -lt "$LINES" ]; do
      echo "emit $TAG line $i of $LINES"
      i=$((i+1))
    done
env:
  LINES:
    type: int
  TAG:
    type: str
    default: none
"""


def gen_orchestrate(seed, sc, out):
    inp = os.path.join(out, "data", "in")
    r = _rng(seed, 20)
    n = sc["items"]
    items = pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "grp": pa.array(["g%d" % g for g in r.integers(0, 16, size=n)], pa.string()),
        "val": pa.array(np.round(r.uniform(0, 1000, size=n), 2), pa.float64()),
        "tag": pa.array(["t%d" % t for t in r.integers(0, 50, size=n)], pa.string()),
    })
    _write(items, os.path.join(inp, "items.parquet"))
    _side_corpus(seed, sc, inp)
    _side_events(seed, sc, inp)
    n_tasks = 4
    for t in range(n_tasks):
        d = os.path.join(out, "tasks", "emit-%d" % t)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "manifest.yml"), "w") as f:
            f.write(EMIT_TASK.format(name="emit-%d" % t))

    cmds = ["""  - name: src
    task: read-parquet
    env:
      PATH: ${job.env.IN}/items.parquet
      OUTPUT: v0"""]
    preds = []
    for i in range(1, sc["chain"] + 1):
        kind = i % 3      # the same chain shape for every seed; the seed sets constants
        if kind == 0:
            c = round(float(r.uniform(0, 30)), 2)
            preds.append("val >= %s" % c)
            body = ("    task: filter\n    env:\n      INPUT: ${previous.env.OUTPUT}\n"
                    "      PREDICATE: \"val >= %s\"\n" % c)
        elif kind == 1:
            body = ("    task: select\n    env:\n      INPUT: ${previous.env.OUTPUT}\n"
                    "      COLUMNS: \"id, grp, val, tag\"\n")
        else:
            m = int(r.integers(50, 400))
            preds.append("id %% %d <> %d" % (m, m - 1))
            body = ("    task: sql\n    env:\n      QUERY: \"SELECT id, grp, val, tag "
                    "FROM ${previous.env.OUTPUT} WHERE id %% %d <> %d\"\n" % (m, m - 1))
        cmds.append("  - name: c-%03d\n%s      OUTPUT: v%d" % (i, body, i))
    last = "c-%03d" % sc["chain"]
    emit_names, skipped = [], 0
    for e in range(sc["emits"]):
        skip = e % 10 == 9
        skipped += skip
        name = "emit-%03d" % e
        emit_names.append((name, skip))
        cmds.append(
            "  - name: %s\n    task: emit-%d\n    env:\n      LINES: %d\n"
            "      TAG: ${job.env.TAG}-%d\n%s" % (
                name, e % n_tasks, sc["emit_lines"], e,
                "    skip: true" if skip else "    skip: false"))
    cmds.append("""  - name: nested
    task: run-job
    env:
      PATH: ${job.env.IN}/nested.yml""")
    cmds.append("""  - name: write-chain
    task: write-parquet
    env:
      INPUT: ${%s.env.OUTPUT}
      PATH: ${job.env.OUT}/chain""" % last)
    tag = "run%d" % int(r.integers(0, 10_000))
    manifest = ("name: orchestrate\ndescription: long command chain with discovered "
                "subprocess tasks\ndata: data\ntasks:\n  - tasks\nenv:\n"
                "  IN: ${job.data}/in\n  OUT: ${job.data}/out\n  TAG: %s\n"
                "commands:\n%s\n" % (tag, "\n".join(cmds)))
    nested = """name: nested
data: ..
commands:
  - name: items
    task: read-parquet
    env:
      PATH: ${job.data}/in/items.parquet
      OUTPUT: nested_items
  - name: top
    task: sql
    env:
      QUERY: >-
        SELECT grp, count(*) AS n, sum(CAST(val AS DECIMAL(12,2))) AS total
        FROM nested_items GROUP BY grp
      OUTPUT: nested_top
  - name: write-top
    task: write-parquet
    env:
      INPUT: nested_top
      PATH: ${job.data}/out/nested
"""
    with open(os.path.join(inp, "nested.yml"), "w") as f:
        f.write(nested)
    run_emits = [nm for nm, s in emit_names if not s]
    filtered = run_emits[::4] + ["write-chain"]
    meta = {
        "workload": "orchestrate", "seed": seed,
        "setup_table": "items.parquet",
        "warmup_jobs": 8,
        "source_rows": 2 * n,
        "outputs": ["chain", "nested"],
        "chain_predicate": " AND ".join(preds) if preds else "true",
        "filtered_commands": filtered,
        "emit_lines": sc["emit_lines"],
        "emits_run": len(run_emits),
        "llm_docs": "side_documents.parquet", "llm_vecs": "side_embeddings.parquet",
        "asof_events": "side_events.parquet",
    }
    return manifest, meta


def generate(workload, seed, scale, out):
    """Write the inputs of one workload run into `out` (created if missing)."""
    sc = SCALES[scale]
    os.makedirs(os.path.join(out, "data", "in"), exist_ok=True)
    gen = {"curate": gen_curate, "warehouse": gen_warehouse,
           "orchestrate": gen_orchestrate}[workload]
    manifest, meta = gen(seed, sc, out)
    meta["scale"] = scale
    with open(os.path.join(out, "job.yml"), "w") as f:
        f.write(manifest)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", default="bench", choices=sorted(SCALES))
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.scale, a.out)


if __name__ == "__main__":
    main()
