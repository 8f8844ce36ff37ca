#!/usr/bin/env python
"""Cross-engine oracle sweep — the adversarial harness behind the
round-7 determinism catches (SCALE.md "Partition-layout determinism
sweep" / "The sf1 sweep").

Runs every oracle-paired registry query at an arbitrary sf_dir and
compares values bit-for-bit against DuckDB, with the hygiene the big
sweeps needed:

- DuckDB memory-capped (an uncapped quadratic oracle reached 98 GB RSS)
  and spilling to ./.tmp (gitignored);
- per-query wall-clock watchdog that interrupts DuckDB and rebuilds the
  connection, so one infeasible oracle cannot wedge the sweep;
- optional hostile layout (prime shuffle-partition count + fractured
  input splits) to expose order-dependent float accumulation;
- a default skip list of the oracles that are quadratic by construction
  (pair CTEs, transitive closures, cell-pairwise dedup) — infeasible as
  ORACLES at 10x scale, which is exactly why the engine's own
  implementations are banded/bucketed/guarded.

Usage:
    python scripts/sweep_oracles.py [SF_DIR] [--hostile] [--timeout N]
                                    [--include-quadratic] [--only A,B,..]

Found in round 7 (all fixed): ROUND on rank-ratio decimal ties, raw-vs-
rounded cosine rank ties, DECIMAL(28,14) overflow + covariance
cancellation on 1e10-scale ids, simhash plant-offset id collision.
"""

from __future__ import annotations

import argparse
import sys
import threading
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
for p in (REPO, str(Path(REPO) / "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)

#: oracles that are pair-forming/quadratic by construction — feasible at
#: the driver's sf0.01, infeasible at 10x+ scale factors
QUADRATIC_ORACLES = {
    "mh_minhash_lsh_dedup",
    "cp_dedup_stage_report",
    "g_pagerank_dupgraph",
    "d_incremental_dedup_probe",
    "d_ngram_jaccard_pairs",
    "d_containment_pairs",
    "d_dup_clusters",
    "d_dedup_survivors",
    "g_triangle_count",
    "sim_cosine_neardup",
    "sd_semantic_dedup",
}

HOSTILE_CONFS = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.files.openCostInBytes": "0",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--hostile", action="store_true",
                    help="prime shuffle partitions + fractured input splits")
    ap.add_argument("--aqe-off", action="store_true",
                    help="disable adaptive query execution — proves no "
                         "result depends on AQE's runtime re-planning; "
                         "stays off for the whole session, since "
                         "ensure_session_defaults asserts its defaults "
                         "only once per session")
    ap.add_argument("--timeout", type=int, default=300,
                    help="per-query oracle budget in seconds")
    ap.add_argument("--memory-limit", default="16GB")
    ap.add_argument("--include-quadratic", action="store_true")
    ap.add_argument("--only-quadratic", action="store_true",
                    help="sweep ONLY the quadratic-oracle set — pair it "
                         "with the gen_sampled_sf1.py subcorpus, where "
                         "those oracles are feasible")
    ap.add_argument("--only", default="",
                    help="comma-separated subset of query names")
    args = ap.parse_args()

    import duckdb

    from dataengineeringworkshop_spark.plans.registry import load_all
    from dataengineeringworkshop_spark.session import get_spark
    from oracle_compare import TESTDATA_TABLES, compare

    def fresh_con():
        con = duckdb.connect(config={"memory_limit": args.memory_limit,
                                     "threads": 16})
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{args.sf_dir}/{t}.parquet')"
            )
        return con

    spark = get_spark(app_name="dew-oracle-sweep")
    if args.hostile:
        for k, v in HOSTILE_CONFS.items():
            spark.conf.set(k, v)
    if args.aqe_off:
        spark.conf.set("spark.sql.adaptive.enabled", "false")

    only = {n for n in args.only.split(",") if n}
    if args.only_quadratic:
        only = set(QUADRATIC_ORACLES)
        args.include_quadratic = True
    reg = load_all()
    names = [
        n for n, s in reg.items()
        if s.oracle is not None
        and (not only or n in only)
        and (args.include_quadratic or n not in QUADRATIC_ORACLES)
    ]
    print(f"sweeping {len(names)} oracle-paired queries at {args.sf_dir}"
          f"{' (hostile layout)' if args.hostile else ''}", flush=True)

    con = fresh_con()
    bad, timed_out = [], []
    for i, name in enumerate(names, 1):
        spec = reg[name]
        result: dict = {}

        def work():
            try:
                spark.sparkContext.setJobGroup(name, f"sweep:{name}")
                result["p"] = compare(
                    spec.fn(spark, args.sf_dir), con, spec.oracle, name
                )
            except Exception as e:  # noqa: BLE001 — report, don't abort
                result["p"] = [f"EXC {type(e).__name__}: {e}"]

        th = threading.Thread(target=work, daemon=True)
        th.start()
        th.join(timeout=args.timeout)
        if th.is_alive():
            # tear BOTH engines' in-flight work down, not just signal it:
            # the abandoned daemon thread's Spark job would otherwise keep
            # 32 cores busy into the NEXT query's timing window, and the
            # interrupted DuckDB connection would leak (one per timeout)
            con.interrupt()
            spark.sparkContext.cancelJobGroup(name)
            th.join(timeout=60)
            if not th.is_alive():
                try:
                    con.close()
                except Exception:  # noqa: BLE001 — best-effort on a wedged con
                    pass
            else:
                # the worker is STILL wedged inside a DuckDB call;
                # closing the connection from this thread mid-query can
                # fault natively (uncatchable).  Deliberately leak this
                # one connection — one leak per wedged timeout — and move
                # on with a fresh one.
                print(f"LEAKED wedged DuckDB connection for {name}", flush=True)
            timed_out.append(name)
            print(f"TIMEOUT {name}", flush=True)
            con = fresh_con()
            continue
        p = result.get("p") or []
        if p:
            bad.append(name)
            print(f"MISMATCH {name}: {p[0][:400]}", flush=True)
        if i % 20 == 0:
            print(f"...{i}/{len(names)}", flush=True)

    print(f"done: {len(names) - len(bad) - len(timed_out)} ok, "
          f"{len(bad)} mismatches {bad}, {len(timed_out)} timeouts {timed_out}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
