#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py is FROZEN for the
driver; every extra measurement lives here — guide §1).

Modes:
  --time q1,q2     time each query with the SAME protocol bench.py uses
                   (count(), best-of-N, untimed GC between queries) so
                   numbers are directly comparable to BENCH_r0x.json;
                   add --noop to ALSO time a noop-sink write (full
                   compute of every column, guide §1.4).
  --explain q1,q2  write .explain("formatted") for each query to
                   --plans-dir (default plans/r06) as <query>_<tag>.txt.
  --probe          host_parallel_capacity() only (quiet-window check).

Examples:
  python bench_extra.py --probe
  python bench_extra.py --time ngram_jaccard_pairs,contamination_flags \
      --sf-dir /root/testdata/sf1.0 --repeats 3 --noop
  python bench_extra.py --explain tfidf_topterms --tag before
"""

from __future__ import annotations

import argparse
import json
import os
import time

from bench import DEFAULT_CPUS, DEFAULT_SF_DIR, build_spark, _warmup, \
    host_parallel_capacity

REPO = os.path.dirname(os.path.abspath(__file__))


def _queries():
    from kgforge.queries import QUERIES
    return QUERIES


def time_queries(sf_dir: str, cpus: int, names: list[str], repeats: int,
                 noop: bool, warm: bool = True) -> dict:
    probe = host_parallel_capacity(4, 16, repeats=2)
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    warmup_sec = _warmup(spark, sf_dir, cpus) if warm else 0.0
    qs = _queries()
    out = {"sf_dir": sf_dir, "cpus": cpus, "warmup_sec": warmup_sec,
           "host_capacity_probe": probe, "queries": {}}
    for name in names:
        fn = qs[name]
        samples, noop_samples = [], []
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            samples.append(round(time.time() - t0, 3))
            spark.sparkContext._jvm.System.gc()
        if noop:
            for _ in range(repeats):
                spark.sparkContext.setJobDescription(f"noop:{name}")
                t0 = time.time()
                (fn(spark, sf_dir).write.format("noop")
                 .mode("overwrite").save())
                noop_samples.append(round(time.time() - t0, 3))
                spark.sparkContext._jvm.System.gc()
        spark.sparkContext.setJobDescription(None)
        out["queries"][name] = {"count_best": min(samples),
                                "count_samples": samples,
                                "rows": n}
        if noop:
            out["queries"][name]["noop_best"] = min(noop_samples)
            out["queries"][name]["noop_samples"] = noop_samples
    spark.stop()
    return out


def explain_queries(sf_dir: str, cpus: int, names: list[str],
                    plans_dir: str, tag: str) -> None:
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = _queries()
    os.makedirs(plans_dir, exist_ok=True)
    import contextlib
    import io
    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
        path = os.path.join(plans_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}")
    spark.stop()


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--time", default=None)
    ap.add_argument("--explain", default=None)
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--repeats", type=_positive_int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--plans-dir", default=os.path.join(REPO, "plans", "r06"))
    ap.add_argument("--tag", default="before")
    args = ap.parse_args(argv)

    if args.probe:
        print(json.dumps(host_parallel_capacity(4, 16, repeats=3)))
        return
    if args.explain:
        explain_queries(args.sf_dir, args.cpus, args.explain.split(","),
                        args.plans_dir, args.tag)
        return
    if args.time:
        report = time_queries(args.sf_dir, args.cpus, args.time.split(","),
                              args.repeats, args.noop, warm=not args.no_warm)
        print(json.dumps(report))


if __name__ == "__main__":
    main()
