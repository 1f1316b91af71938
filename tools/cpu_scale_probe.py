"""8-vs-32-core scaling at sf1 (VERDICT r14 items 4 and 5).

At sf0.1 the whole bench is plan/job-overhead-bound: the driver's 8-core
run equals its 32-core run (133.2 vs 133.3 s), so per-query core ratios
measure fixture scale, not parallelism.  This probe times the expensive
bench rows at the sf1-equivalent dataset (tools/make_scale_probe_data.py)
under local[32] and local[8] — fresh JVM per core count, same conf path
as bench.py (session.py reads $SPARK_GRAFT_CPUS) — and records the
ratios, answering two questions:

* do the shuffle/CPU-heavy rows actually parallelize once data outgrows
  the per-query fixed cost (ratio >= ~2 expected on 4x the cores)?
* are the sf0.1 "inverse scalers" (x47/x40/x55: 8 cores BEAT 32) a
  32-way scheduling artifact on tiny inputs (ratio normalizes at sf1)
  or a real serialization bottleneck (ratio stays <= 1)?

Also measures x29's r14 row-local-distinct rewrite against the OLD
corpus-grain form at sf1 — the one r14 change whose predicted win is
corpus-scale only (the removed `(doc_id, gram).distinct()` shuffle is
proportional to corpus grams, invisible at sf0.1).

Usage:
    python tools/cpu_scale_probe.py [--out CPU_SCALING_r15.md]
        [--sf1-dir /tmp/sfprobe1] [--cpus 32,8] [--runs 2]
    python tools/cpu_scale_probe.py --worker --cpus 8 ...  (internal)

Probe-only evidence, never a correctness fixture.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the expensive bench rows (>2.5 s at sf0.1 in BENCH_r14) + the three
# sf0.1 inverse scalers the probe exists to adjudicate
PROBE = [
    "x56b_ivfpq_rerank",
    "x41b_pq_rerank",
    "x82_centrality_canonical",
    "x13c_srp_lsh_auto",
    "x13_srp_lsh",
    "x39_bpe_train",
    "x46_knn_graph",
    "x75_lsh_preflight",
    "x81_neardup_pagerank",
    "x108_source_dup_rate",
    "x47_quality_blend",
    "x40_bigram_lm_score",
    "x55_quality_canonical_dedup",
    "x29_ngram_novelty",
]


def _x29_old_form(spark, sf_dir):
    """The PRE-r14 x29 pipeline: explode word-5-grams then a corpus-grain
    (doc_id, gm) DISTINCT — the shuffle+dedupe pass the r14
    `array_distinct`-before-explode rewrite removed.  Reconstructed here
    (result-identical to shipped x29) purely to measure the removed term
    at sf1; the shipped operator is untouched."""
    from pyspark.sql import functions as F

    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.oracle_compat import r2d
    from cubefs_hadoop_spark.plans.parallelism import widen_for_cpu

    g = F.expr(
        "transform(sequence(1, greatest(size(ws)-4, 1)),"
        " i -> concat_ws(' ', slice(ws, i, 5)))"
    )
    grams = (
        widen_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
        .withColumn("ws", F.split("text", " "))
        .select("doc_id", F.explode(g).alias("gm"))
        .distinct()
    )
    owner = grams.groupBy("gm").agg(F.min("doc_id").alias("own"))
    return (
        grams.join(owner, "gm")
        .groupBy("doc_id")
        .agg(
            r2d(
                F.sum(
                    F.when(F.col("own") == F.col("doc_id"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty")
        )
        .orderBy("doc_id", "novelty")
    )


def worker(args) -> None:
    from bench import time_query
    from cubefs_hadoop_spark.queries import QUERIES
    from cubefs_hadoop_spark.session import get_spark

    spark = get_spark(f"cpu-scale-probe-{args.cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    jobs = [(name, QUERIES[name]) for name in args.queries.split(",")]
    if args.x29_old:
        jobs.append(
            ("x29 (old corpus-grain distinct, probe form)", _x29_old_form)
        )
    out: dict[str, list[float]] = {}
    for name, fn in jobs:
        out[name] = [
            round(
                time_query(spark, fn, args.sf1_dir, f"cpuprobe:{name}#{i}"), 3
            )
            for i in range(args.runs)
        ]
        print(f"# {name}: {out[name]}", file=sys.stderr, flush=True)
    print(json.dumps(out), flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--cpus", default="32,8")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--queries", default=",".join(PROBE))
    ap.add_argument("--x29-old", action="store_true")
    ap.add_argument(
        "--sf1-dir",
        default=os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sfprobe1"),
    )
    ap.add_argument("--out", default="CPU_SCALING_r15.md")
    args = ap.parse_args()
    if args.worker:
        worker(args)
        return
    if not os.path.isdir(args.sf1_dir):
        sys.exit(
            f"{args.sf1_dir} missing — run tools/make_scale_probe_data.py first"
        )
    results: dict[str, dict[str, list[float]]] = {}
    loads: dict[str, float] = {}
    for cpus in args.cpus.split(","):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
        loads[cpus] = round(os.getloadavg()[0], 2)
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--worker",
                "--cpus",
                cpus,
                "--runs",
                str(args.runs),
                "--queries",
                args.queries,
                "--sf1-dir",
                args.sf1_dir,
                "--x29-old",  # the corpus-grain A/B rides every probe
            ],
            env=env,
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            sys.exit(f"worker local[{cpus}] failed:\n{proc.stderr[-4000:]}")
        last = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        results[cpus] = json.loads(last)
        print(f"local[{cpus}] done (load at start {loads[cpus]})", flush=True)

    c_hi, c_lo = args.cpus.split(",")[0], args.cpus.split(",")[-1]
    lines = [
        "# CPU scaling probe — 8 vs 32 cores at sf1",
        "",
        f"Generated by `python tools/cpu_scale_probe.py` against `{args.sf1_dir}`",
        "(sf0.1 replicated 10x, disjoint key spaces —",
        "tools/make_scale_probe_data.py).  Fresh JVM per core count",
        f"(`local[{c_hi}]` / `local[{c_lo}]`), {args.runs} runs per query, first",
        "run is the reported number's warm-up (min shown separately).",
        f"1-min load at worker start: local[{c_hi}]={loads.get(c_hi)}, "
        f"local[{c_lo}]={loads.get(c_lo)}.",
        "",
        "`ratio` = local[8] best / local[32] best — >1 means 32 cores win;",
        "~4 is perfect scaling on 4x the cores for a fully parallel job.",
        "",
        f"| query | {c_hi}c runs | {c_lo}c runs | ratio ({c_lo}c/{c_hi}c best) |",
        "|---|---|---|---|",
    ]
    for name in results[c_hi]:
        hi = results[c_hi][name]
        lo = results[c_lo].get(name)
        if not lo:
            continue
        ratio = min(lo) / max(min(hi), 1e-9)
        lines.append(
            f"| {name} | "
            + " ".join(f"{s:.2f}" for s in hi)
            + " | "
            + " ".join(f"{s:.2f}" for s in lo)
            + f" | {ratio:.2f}x |"
        )
    lines.append("")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, args.out), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{args.out} written")


if __name__ == "__main__":
    main()
