"""Seeded input generator for the benchmark workloads.

Every input a workload reads is synthesised here from `--seed`, in the
schemas of the project's fixture tables (nation, lineitem, events,
documents, embeddings; see FIXTURES.md). Row counts are a fixed share (SCALE) of the sf0.1 fixture's,
and keys, times, users and texts follow the distributions measured on that
fixture (noted at each generator below). The same seed writes
byte-identical parquet files; another seed writes different ones. The
program under test only ever sees the directories written here.

    python3 perfbench/gen.py --workload etl_monthly --seed 7 --seconds 20 --out DIR

writes DIR/manifest.json plus one directory per input set, and copies of
each per section that needs its own (see `copies`):

  etl_monthly      month_00, month_01: lineitem (that month's journeys,
                   order keys disjoint across months), events (that
                   month's weather readings) and nation (stations); the
                   manifest holds the dashboard refresh's parameters
  corpus_curation  corpus: documents and embeddings subsets
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 fixture. The fixture's whole lineitem table is
# one month of journeys (TransformJourneys maps every ship date into
# January 2024) and its events span that one month.
FIXTURE_ROWS = {"supplier": 1_000, "part": 20_000, "lineitem": 600_000,
                "events": 100_000, "documents": 5_000, "embeddings": 2_000}
# Share of the fixture's rows generated per input set. At etl_monthly's
# share E3's time is mostly data: on a 4-CPU machine its first run takes
# about 4.0 s at 50k journeys and 6.5 s at 150k. corpus_curation's
# operations are per-query fixed cost at any of these sizes (see
# perfbench/README.md, "Sizing").
SCALE = {"etl_monthly": 0.25, "corpus_curation": 0.25}
EMBED_DIM = 64


def rows_at(workload):
    return {t: max(1, round(n * SCALE[workload])) for t, n in FIXTURE_ROWS.items()}


# Wall time of one unit of timed work after the rehearsals have warmed
# the process, measured on a 4-CPU machine at the scale above: the timed
# work is the amount whose nominal time is nearest --seconds, not "as much
# as fits", so a faster program finishes the same work sooner.
# etl_monthly's unit is a round: a bootstrap and one month on a fresh
# warehouse. A round has 9 operations, and more months per round would
# push the count past 10, where the tail rule reports a low percentile;
# so the benchmark repeats rounds instead, at least 3 so that the median
# round is a middle one (see perfbench/README.md).
NOMINAL_ROUND_S = 13.0
MIN_ROUNDS = 3
NOMINAL_BUILD_PASS_S = 5.6
NOMINAL_ATTACH_PASS_S = 1.7

# the fixture's 30-word vocabulary
WORDS = ["a", "the", "batch", "part", "spark", "line", "column", "order",
         "small", "sort", "fast", "value", "scan", "hash", "slow", "group",
         "agg", "filter", "query", "big", "key", "window", "row", "table",
         "stream", "merge", "data", "vector", "customer", "join"]
# language shares and duplicate rates of the fixture's documents
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EXACT_DUP_P = 0.0016
NEAR_DUP_P = 0.05
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

US_PER_DAY = 86_400_000_000
EPOCH = dt.datetime(1970, 1, 1)


def rng_for(seed, *name):
    """An independent generator per (seed, table): adding a table never
    shifts the draws of another."""
    digest = hashlib.sha256(repr((seed,) + name).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def month_start(m):
    """First instant of the m-th month after January 2024."""
    return dt.datetime(2024 + m // 12, m % 12 + 1, 1)


def ts_col(values):
    return pa.array(values, type=pa.timestamp("us"))


def write(table, directory, name):
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    return path


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def nation():
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def random_days(r, first, last, n):
    lo, hi = micros(first) // US_PER_DAY, micros(last) // US_PER_DAY
    return r.integers(lo, hi + 1, n) * US_PER_DAY


def lineitem(r, n, key_lo, key_hi, n_part, n_supp):
    """Journeys. As in the fixture: order keys uniform over n/4 keys (so
    1-17 lines per order, 4 on average), part and supplier keys uniform
    over the part and supplier tables, line numbers 1-7, quantities 1-50,
    prices uniform over [900, 105000], discounts 0-0.10 and tax 0-0.08 in
    steps of 0.01, the six return-flag/line-status pairs equally often,
    and ship days uniform over 1995-01-02 .. 2001-11-04."""
    return pa.table({
        "l_orderkey": pa.array(r.integers(key_lo, key_hi, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n)],
        "l_shipdate": ts_col(random_days(r, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n))})


def events(r, n, first, last, id_base=0):
    """As in the fixture: times uniform over the span (the fixture's
    100,000 events cover January 2024), users uniform over 0-1499, the
    five event types equally often, values exponential with mean 50 and
    props {"k": 0-99}."""
    lo, hi = micros(first), micros(last)
    ts = np.sort(r.integers(lo, hi, n))
    return pa.table({
        "event_id": pa.array(id_base + np.arange(n), pa.int64()),
        "ts": ts_col(ts),
        "user_id": pa.array(r.integers(0, 1500, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})


def documents(r, n):
    """As in the fixture: texts of 10-100 words drawn uniformly from the
    vocabulary; 5% are near duplicates (another document's text plus the
    word "dup") and 0.16% exact copies of another document; languages in
    the fixture's shares; 20 sources in turn. The duplicate counts are
    exact, not drawn, so that every seed gives the dedup queries the same
    amount of work."""
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), r.integers(10, 101))]) for _ in range(n)]
    n_exact, n_near = round(n * EXACT_DUP_P), round(n * NEAR_DUP_P)
    dups = r.permutation(n)[:n_exact + n_near]
    # each duplicate copies its own original, which is not a duplicate
    sources = r.choice(np.setdiff1d(np.arange(n), dups), len(dups), replace=False)
    for k, (i, j) in enumerate(zip(dups, sources)):
        texts[i] = texts[j] if k < n_exact else texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(r, n):
    """As in the fixture: random unit vectors of 64 floats and labels
    uniform over 0-9, independent of the vectors."""
    labels = r.integers(0, 10, n)
    v = r.normal(0.0, 1.0, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def weather_rows(ev):
    """Rows TransformWeather derives from one events table: one per
    distinct (user, day) among 'click' readings (the left side of its
    measure join)."""
    t = ev.to_pydict()
    return len({(u, ts // US_PER_DAY)
                for u, ts, e in zip(t["user_id"], ev["ts"].cast(pa.int64()).to_pylist(),
                                    t["event_type"]) if e == "click"})


def copies(d, out, tags):
    """Byte-identical copies of input dir `d` for the sections named by
    `tags` (the first timed round reads `d` itself). The program caches
    per input directory within a process, so a section run on inputs
    another section has read would time cache hits."""
    out_copies = {}
    for tag in tags:
        out_copies[tag] = os.path.join(out, tag, os.path.relpath(d, out))
        shutil.copytree(d, out_copies[tag])
    return out_copies


def file_bytes(paths):
    return sum(os.path.getsize(p) for p in paths)


def gen_etl(seed, seconds, out):
    """Two month slices, the bootstrap month and the appended one: a
    month of journeys with order keys disjoint from the other month's,
    that month's events, and the stations."""
    n = rows_at("etl_monthly")
    rounds = max(MIN_ROUNDS, round(seconds / NOMINAL_ROUND_S))
    tags = ["rehearsal"] + [f"timed{i}" for i in range(2, rounds + 1)] + ["traced", "after"]
    slices, paths = [], []
    for m in range(2):
        r = rng_for(seed, "month", m)
        d = os.path.join(out, f"month_{m:02d}")
        keys = n["lineitem"] // 4
        li = lineitem(r, n["lineitem"], m * keys, (m + 1) * keys, n["part"], n["supplier"])
        ev = events(r, n["events"], month_start(m), month_start(m + 1), m * n["events"])
        paths += [write(li, d, "lineitem"), write(ev, d, "events"), write(nation(), d, "nation")]
        slices.append({"dir": d, "copies": copies(d, out, tags),
                       "journeys": li.num_rows, "weather": weather_rows(ev),
                       "month": month_start(m).strftime("%Y-%m")})
    # the dashboard refresh's parameters: an hour of the day for the
    # hour-window analytic and a day for the pruned timestamp read
    r = rng_for(seed, "params")
    params = {"hour": int(r.integers(6, 22)), "day": f"2024-01-{int(r.integers(1, 32)):02d}"}
    return {"slices": slices, "rounds": rounds, "params": params, "input_bytes": file_bytes(paths),
            "input_rows": sum(s["journeys"] for s in slices)}


def gen_corpus(seed, seconds, out):
    d = os.path.join(out, "corpus")
    n = rows_at("corpus_curation")
    docs = documents(rng_for(seed, "corpus_documents"), n["documents"])
    vecs = embeddings(rng_for(seed, "corpus_embeddings"), n["embeddings"])
    paths = [write(docs, d, "documents"), write(vecs, d, "embeddings")]
    attach_passes = max(1, round((seconds - NOMINAL_BUILD_PASS_S) / NOMINAL_ATTACH_PASS_S))
    return {"corpus": d, "corpus_copies": copies(d, out, ["rehearsal", "rehearsal2", "traced", "after"]),
            "rounds": 1, "attach_passes": attach_passes, "input_bytes": file_bytes(paths),
            "input_rows": docs.num_rows + vecs.num_rows}


GENERATORS = {"etl_monthly": gen_etl, "corpus_curation": gen_corpus}


def generate(workload, seed, seconds, out):
    """Write the workload's inputs under `out` and return its manifest."""
    manifest = GENERATORS[workload](seed, seconds, out)
    manifest.update({"workload": workload, "seed": seed, "seconds": seconds})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    generate(a.workload, a.seed, a.seconds, a.out)


if __name__ == "__main__":
    main(sys.argv[1:])
