"""The batch workload: a fixed set of declared queries, run closed loop by
one client in complete passes.

Per run: stage the seeded tables, start the session, make one untimed
warm-up pass that collects every result, then time a fixed number of
complete passes of `.count()`. Each query is timed from the call of its
plan function to the end of `.count()` on the result. After the timed
window, the collected results are hash-matched against their DuckDB
oracles.
"""

from __future__ import annotations

import os
import random
import time

import datagen
import eventlog
import stats

# Queries are named from each plan module's SPECS (never taken in
# `queries()` order, which the registry rotates). The set is fixed so
# that every seed times the same work; README.md says why these and how
# they compare with a full pass of the four modules.
QUERIES = {
    "sql_dedup": {
        "relational": [
            "q1_pricing_summary",
            "q4_order_priority",
            "q5_local_supplier_volume",
            "join_full_outer",
            "cube_orders",
            "setops",
            "quantile_disc_by_segment",
        ],
        "tpch_ext": [
            "q12_late_shipments",
        ],
        "dedup": [
            "dedup_minhash_lsh",
            "lsh_bucket_stats",
            "dedup_minhash_capped_drop",
            "cdc_chunk_dedup",
        ],
        "similarity": [
            "similarity_topk_bruteforce",
        ],
    },
}

# The timed window is a whole number of passes, so that every run times
# the same work: round(seconds / NOMINAL_PASS_S) of them, and at least
# two (2 at 16 s; a pass takes 5-9 s on a shared 4-core box).
NOMINAL_PASS_S = 8.0

# The MinHash memo consumers: their DuckDB twins take 30-60 s each on
# the sf0.1 tables, more than a run can spend, and 0.5-1.5 s on tables
# of CHECK_SF (50 documents, still with planted near-duplicates). Every
# run hash-matches them on CHECK_SF tables of its seed, through the same
# plan functions (the memo keys include the table directory, so those
# are builds of their own), and checks their sf0.1 row counts across
# passes.
SMALL_CHECK = {"dedup_minhash_lsh", "lsh_bucket_stats", "dedup_minhash_capped_drop"}
CHECK_SF = 0.001


def select(workload: str) -> list:
    """The workload's QuerySpecs, looked up by name in each module's
    SPECS; a renamed or removed query fails the run loudly."""
    import importlib

    specs = []
    for module, names in QUERIES[workload].items():
        by_name = {s.name: s for s in importlib.import_module(f"demo_flink_spark.plans.{module}").SPECS}
        missing = [n for n in names if n not in by_name]
        if missing:
            raise KeyError(f"plans.{module} no longer declares {missing}")
        specs.extend(by_name[n] for n in names)
    return specs


def _oracle(sf_dir: str):
    import duckdb

    from demo_flink_spark.sources import TABLES

    con = duckdb.connect()
    # spill files, if any, go beside the tables, inside the run directory
    con.execute(f"SET temp_directory = '{sf_dir}/duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _check(run, spec, sdf, con) -> None:
    """The oracle gate of tools/oracle_check.py: row count, column
    names and the canonical order-insensitive value hash."""
    from oracle_check import canonical_hash

    if spec.oracle is None:
        return
    odf = con.execute(spec.oracle).fetchdf()
    if len(sdf) != len(odf):
        run.fail(f"{spec.name}: {len(sdf)} rows, oracle {len(odf)}")
    elif sorted(sdf.columns) != sorted(odf.columns):
        run.fail(f"{spec.name}: columns {sorted(sdf.columns)} != {sorted(odf.columns)}")
    elif canonical_hash(sdf) != canonical_hash(odf):
        run.fail(f"{spec.name}: value hash differs from the DuckDB oracle")


def _check_all(run, spark, specs, collected: dict, sf_dir: str) -> None:
    """Hash-match every collected result against its DuckDB oracle; the
    SMALL_CHECK queries are run again, and matched, on CHECK_SF tables
    of the run's seed."""
    con = _oracle(sf_dir)
    for spec in specs:
        if spec.name not in SMALL_CHECK:
            _check(run, spec, collected[spec.name], con)
    con.close()
    small = [s for s in specs if s.name in SMALL_CHECK]
    if small:
        small_dir = os.path.join(run.work, "sf_check")
        datagen.write_tables(datagen.make_tables(run.seed, sf=CHECK_SF), small_dir)
        con = _oracle(small_dir)
        for spec in small:
            try:
                sdf = spec.fn(spark, small_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failing query is reported, not fatal
                run.fail(f"{spec.name} on sf{CHECK_SF}: {type(exc).__name__}: {exc}")
                continue
            _check(run, spec, sdf, con)
        con.close()


def _group_counts(sc, group: str) -> tuple[int, int, int]:
    """Jobs, executed stages and their tasks for one job group, read
    from Spark's status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


def run_batch(run, process_start: float) -> None:
    from demo_flink_spark.plans.memo import clear_session_memos, drain_memo_events

    tr = run.tracer
    specs = select(run.workload)
    rng = random.Random(run.seed)
    sf_dir = os.path.join(run.work, "sf")
    with tr.span("stage_inputs"):
        datagen.write_tables(datagen.make_tables(run.seed), sf_dir)
    spark = run.start_session()
    sc = spark.sparkContext

    # warm-up pass, outside the timed window: collects every result for
    # the correctness check after the window
    t_warm = time.time()
    collected = {}
    with tr.span("warmup"):
        clear_session_memos()
        for spec in rng.sample(specs, len(specs)):
            try:
                with tr.span("plans.query", query=spec.name, phase="warmup"):
                    collected[spec.name] = spec.fn(spark, sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failing query is reported, not fatal
                run.failed += 1
                run.fail(f"{spec.name}: {type(exc).__name__}: {exc}")
    drain_memo_events()
    run.layers["session.warmup_s"] = time.time() - t_warm
    run.attempted += len(specs)
    specs = [s for s in specs if s.name in collected]

    def one_pass(label: str) -> tuple[dict, dict[str, float]]:
        """Run every query once, in a new seeded order, after clearing
        the memos so that every pass makes the same builds."""
        rec = {"wall": 0.0, "build": 0.0, "exec": 0.0, "builds": 0, "hits": 0, "jobs": 0, "stages": 0, "tasks": 0}
        times = {}
        tp = time.time()
        clear_session_memos()
        for spec in rng.sample(specs, len(specs)):
            group = f"{label}:{spec.name}"
            if run.trace:
                sc.setJobGroup(group, group)
            run.attempted += 1
            try:
                with tr.span("plans.query", query=spec.name, phase=label):
                    ta = time.time()
                    with tr.span("plans.build"):
                        df = spec.fn(spark, sf_dir)
                    tb = time.time()
                    with tr.span("operators.count"):
                        n = df.count()
                    tc = time.time()
            except Exception as exc:  # noqa: BLE001
                run.failed += 1
                run.fail(f"{spec.name} {label}: {type(exc).__name__}: {exc}")
                continue
            times[spec.name] = tc - ta
            rec["build"] += tb - ta
            rec["exec"] += tc - tb
            for ev in drain_memo_events():
                rec["builds" if ev["event"] == "build" else "hits"] += 1
            if n != len(collected[spec.name]):
                run.fail(f"{spec.name} {label}: count {n}, collected {len(collected[spec.name])} rows")
            if run.trace:
                j, s, t = _group_counts(sc, group)
                rec["jobs"] += j
                rec["stages"] += s
                rec["tasks"] += t
        rec["wall"] = time.time() - tp
        return rec, times

    # timed window: a fixed number of complete passes
    samples: dict[str, list[float]] = {s.name: [] for s in specs}
    passes: list[dict] = []
    t0 = time.time()
    run.e2e["setup_s"] = t0 - process_start
    for p in range(max(2, round(run.seconds / NOMINAL_PASS_S))):
        rec, times = one_pass(f"p{p}")
        passes.append(rec)
        for name, t in times.items():
            samples[name].append(t)
    t1 = time.time()

    if run.trace:
        sc.setJobGroup("check", "check")
    with tr.span("check"):
        _check_all(run, spark, specs, collected, sf_dir)
    clear_session_memos()
    t_check = time.time() - t1

    n_pass = len(passes)
    # the median pass, so that one disturbed pass does not move the figure
    run.e2e["throughput_per_s"] = stats.median([len(specs) / r["wall"] for r in passes])
    # percentiles over every timed query run: each pass has one memo
    # build, whichever consumer the seeded order puts first, so the
    # pooled times do not depend on which query pays it
    pooled = [t for v in samples.values() for t in v]
    run.e2e["latency_p50_s"] = stats.percentile(pooled, 0.5)
    run.e2e["latency_p90_s"] = stats.percentile(pooled, 0.9)

    def per_pass(key: str) -> float:
        return stats.median([r[key] for r in passes])

    run.layers.update(
        {
            "plans.build_s": sum(r["build"] for r in passes) / n_pass,
            "operators.exec_s": sum(r["exec"] for r in passes) / n_pass,
            "plans.jobs": per_pass("jobs"),
            "plans.stages": per_pass("stages"),
            "plans.tasks": per_pass("tasks"),
            "plans.memo_builds": per_pass("builds"),
            "plans.memo_hits": per_pass("hits"),
            "plans.pass_trend": passes[-1]["wall"] / passes[0]["wall"],
            "latency.samples": len(pooled),
            "latency.p90_beyond": stats.beyond(len(pooled), 0.9),
        }
    )
    if run.trace:
        spark.stop()  # flushes the event log
        groups = eventlog.fold(eventlog.read_dir(os.path.join(run.work, "eventlog")))
        timed = eventlog.total(groups, keep=lambda g: g[:1] == "p" and ":" in g)
        for k in eventlog.METRICS:
            run.layers[k] = timed[k] / n_pass
    print(
        f"# {run.workload}: {len(pooled)} queries in {n_pass} passes, {t1 - t0:.2f} s; pass walls "
        + " ".join(f"{r['wall']:.2f}" for r in passes)
        + f" s; setup {run.e2e['setup_s']:.2f} s; check {t_check:.2f} s",
        flush=True,
    )
