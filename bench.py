"""Benchmark harness (driver contract).

Default mode: runs the headline query set at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "turns_per_sec": ...}

``--scaling`` mode (north rule evidence): runs the SAME backfill job in
two fresh subprocesses at local[8] and local[32] on the SAME input and
reports throughput at both plus efficiency = (T8/T32)/4, appending the
table to BENCH.md.

Queries are materialized through the noop sink (full row computation;
no driver collect, no count() short-circuits).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headline set: one per operator family
BENCH_QUERIES = (
    "mf_stat_central",
    "mf_stat_shape",
    "mf_info_joint",
    "turn_deltas",
    "session_stats",
    "expanding_pit",
    "asof_snapshot",
    "zz_mfe_extract_core",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "text_quality",
)


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _replicated_turns(spark, sf_dir: str, replicate: int):
    """R deterministic copies of the turn table with distinct conv_ids —
    scales the input so compute (not fixed overhead) dominates the
    scaling measurement; same job, same data content at both levels.
    Replication via explode(sequence(...)) — one narrow operator — not
    an R-branch union, whose plan analysis alone dominates at R=160."""
    from pyspark.sql import functions as F

    from pymfe_spark.operators.base import turns

    t = turns(spark, sf_dir)
    if replicate <= 1:
        return t
    rep = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("rep")
    return (
        t.select(rep, "*")
        .withColumn(
            "conv_id",
            F.concat(F.lit("r"), F.col("rep"), F.lit("_"), F.col("conv_id")),
        )
        .drop("rep")
    )


def _backfill(spark, sf_dir: str, replicate: int) -> tuple[int, float]:
    """The north-star backfill job: per-turn expanding PIT features +
    per-conversation Arrow extraction. Returns (n_turns, seconds)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from pymfe_spark.plans.extractor import MFESpark

    t = _replicated_turns(spark, sf_dir, replicate).persist()
    n_turns = t.count()

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pit = t.select(
        "conv_id",
        "turn_idx",
        F.count("*").over(w).alias("cum_n"),
        F.avg("text_len").over(w).alias("cum_mean_len"),
        F.stddev_samp("text_len").over(w).alias("cum_sd_len"),
    )
    ex = MFESpark(groups=("general", "statistical", "info-theory"))

    # full untimed warm-up pass: spins up every Python worker, compiles
    # codegen, populates shuffle/file caches. Then best-of-3 timed
    # passes — steady-state throughput (the north rule's "sustaining"),
    # robust to noisy-neighbor variance on the host.
    # extraction runs the ROUTED path (extract_hybrid) — the production
    # default since r4: bit-identical to extract() on normal data, and
    # mega conversations leave the one-task kernel path (round-3
    # verdict item #1: the bench must measure what production runs)
    _materialize(pit)
    _materialize(ex.extract_hybrid(t))

    sec = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        _materialize(pit)
        _materialize(ex.extract_hybrid(t))
        sec = min(sec, time.perf_counter() - t0)
    t.unpersist()
    return n_turns, sec


def run_bench(sf_dir: str, cpus: int) -> dict:
    from pymfe_spark import get_spark
    from pymfe_spark.operators.base import turns
    from pymfe_spark.plans.catalog import load_catalog

    catalog = load_catalog()
    spark = get_spark(app_name="pymfe_spark_bench", cpus=cpus)

    n_turns = turns(spark, sf_dir).count()

    # Steady-state protocol (same as the backfill section below): one
    # untimed warm pass per query — Janino whole-stage-codegen compile
    # (up to ~12 s for the widest minhash plan, once per JVM/executor
    # lifetime), JIT, parquet footer caches, and the Python worker pool
    # (fork + numpy/pandas import per core) all amortize to zero over a
    # 100 TB run — then best-of-2 timed passes to shed host-neighbor
    # noise. The timed number is the per-scan marginal cost, which is
    # what multiplies at scale.
    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        df = catalog[name].fn(spark, sf_dir)
        _materialize(df)
        raw: list[float] = []
        for _ in range(2):
            t0 = time.perf_counter()
            _materialize(df)
            raw.append(round(time.perf_counter() - t0, 3))
        passes[name] = raw
        timings[name] = min(raw)

    # backfill throughput: per-turn PIT features + per-conv extraction
    bf_turns, backfill_sec = _backfill(spark, sf_dir, replicate=1)

    spark.stop()
    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline query suite wall time (backfill + dedup + ANN + text)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "n_turns": bf_turns,
        "backfill_sec": round(backfill_sec, 3),
        "turns_per_sec": round(bf_turns / backfill_sec, 1),
        # self-describing artifact (round-3 verdict "What's wrong" #1):
        # a contended driver capture must be identifiable from the JSON
        # alone — raw per-pass times expose noise-vs-regression, the
        # loadavg pair exposes the host condition during the run.
        "passes": passes,
        "loadavg_before": _LOADAVG_BEFORE,
        "loadavg_after": _loadavg(),
    }


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


_LOADAVG_BEFORE = _loadavg()


# per-pair input replication: the job's serial JVM overhead (~4 s:
# plan/codegen, range sampling, small stages) must be small relative to
# per-core kernel work or the high-core level measures overhead, not
# scaling. 1M turns suffice at 2->8; the 8->32 pair needs enough input
# that per-core kernel work is minutes-scale like a real cluster shard
# (round-1 trend: 1M -> 0.47 "efficiency" that is really amortization;
# 4M -> 0.69; round 2 measures at 16M).
SCALING_PAIRS = ((2, 8, 10), (8, 32, 160))


def _wait_idle(max_wait_s: float = 900.0, bar: float = 2.0) -> list[float]:
    """Block until the 1-min loadavg drops below ``bar`` (or the wait
    budget runs out) and return the loadavg that let us proceed. A
    scaling level launched while the host is still draining earlier
    work measures the contention, not the code — the round-4 artifact
    (2->8 = 0.775 with a 15-min loadavg of 3.5 at launch vs 0.95+
    idle) is exactly this trap, and a single snapshot at run start
    cannot see load that arrives between levels."""
    deadline = time.monotonic() + max_wait_s
    la = _loadavg()
    while la[0] >= bar and time.monotonic() < deadline:
        time.sleep(15)
        la = _loadavg()
    return la


def run_scaling(sf_dir: str) -> None:
    """Same backfill job at two N -> 4N parallelism pairs on the same
    (replicated) input; efficiency = (T_N / T_4N) / 4 per pair."""
    loadavg = open("/proc/loadavg").read().split()[:3]  # before our load
    levels = sorted({(c, rep) for n, n4, rep in SCALING_PAIRS for c in (n, n4)})
    results: dict[tuple[int, int], dict] = {}
    level_loads: list[float] = []
    # three interleaved rounds per level, keep the per-level best — host
    # noise hits a contiguous window, not a specific level, and (round
    # 5) a single contended window sank an entire pair under best-of-2:
    # foreign load arriving MID-level passes the launch-time idle gate
    for cpus, rep in list(levels) + list(reversed(levels)) + list(levels):
        level_loads.append(_wait_idle()[0])
        out = subprocess.run(
            [
                sys.executable,
                __file__,
                "--backfill-only",
                sf_dir,
                str(cpus),
                str(rep),
            ],
            capture_output=True,
            text=True,
            check=True,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        res = json.loads(line)
        key = (cpus, rep)
        if key not in results or res["backfill_sec"] < results[key]["backfill_sec"]:
            results[key] = res
    report = {
        "sf": sf_dir,
        "efficiency": {},
        "throughput_turns_per_sec": {},
        "loadavg_before": loadavg,
        # 1-min loadavg at each level's launch (post idle-wait): the
        # honest per-measurement host condition, not a run-start
        # snapshot that goes stale across a ~45-min protocol
        "loadavg_per_level": level_loads,
    }
    rows = []
    window = "idle host" if max(level_loads) < 2.0 else "contended"
    for n, n4, rep in SCALING_PAIRS:
        rn, r4 = results[(n, rep)], results[(n4, rep)]
        eff = (rn["backfill_sec"] / r4["backfill_sec"]) / 4.0
        report["efficiency"][f"{n}->{n4}"] = round(eff, 3)
        report["throughput_turns_per_sec"][f"local[{n}]@{rn['n_turns']}"] = rn[
            "turns_per_sec"
        ]
        report["throughput_turns_per_sec"][f"local[{n4}]@{r4['n_turns']}"] = r4[
            "turns_per_sec"
        ]
        rows.append(
            "| {sf} | {nt:,} | {n}->{n4} | {tpn} | {tp4} | {eff:.3f} | {win} |".format(
                sf=sf_dir,
                nt=rn["n_turns"],
                n=n,
                n4=n4,
                tpn=rn["turns_per_sec"],
                tp4=r4["turns_per_sec"],
                eff=eff,
                win=window,
            )
        )
    print(json.dumps(report))
    with open(os.path.join(os.path.dirname(__file__), "BENCH.md"), "a") as f:
        f.write("\n" + "\n".join(rows))


def _completed_stages(spark) -> dict[int, dict]:
    """Per-stage task metrics from the status REST API (UI must be on:
    SPARK_GRAFT_UI=true). Keyed by stageId; values carry
    executorRunTime (ms summed over tasks) and executorCpuTime (ns)."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url) as r:
        stages = json.load(r)
    return {s["stageId"]: s for s in stages}


def _task_summary(spark, stage_id: int, attempt: int = 0) -> dict | None:
    """min/median/max executorRunTime (ms) for one stage's tasks."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = (
        f"{base}/api/v1/applications/{app_id}/stages/{stage_id}/{attempt}"
        "/taskSummary?quantiles=0.0,0.5,1.0"
    )
    try:
        with urllib.request.urlopen(url) as r:
            s = json.load(r)
        lo, med, hi = s["executorRunTime"]
        return {"min_ms": lo, "median_ms": med, "max_ms": hi}
    except Exception:
        return None


def run_skew(sf_dir: str, cpus: int, replicate: int, mega: int) -> dict:
    """Mega-conversation straggler measurement (round-2 verdict
    "Next round" #2 done-criterion): plant ONE conversation of ``mega``
    turns into a ``replicate``x corpus, run the extraction backfill via
    BOTH the pure kernel path and the hybrid path, and report each
    path's worst max/median task-time ratio among substantial stages.
    The hybrid must keep every stage's straggler under 2x median; the
    pure path demonstrates the problem the hybrid removes."""
    os.environ["SPARK_GRAFT_UI"] = "true"
    from pymfe_spark import get_spark
    from pymfe_spark.operators.base import turns
    from pymfe_spark.plans.extractor import MFESpark

    # cache key must identify the source dir: without it a dir generated
    # from sf0.01 silently serves an sf0.1 invocation (observed — 1.4M
    # turns where the protocol expects 5M). A basename is not enough
    # either: two different /x/sf0.1 and /y/sf0.1 trees would collide,
    # so key on a short hash of the full normalized path.
    src_path = os.path.normpath(os.path.abspath(sf_dir))
    src_tag = hashlib.sha1(src_path.encode()).hexdigest()[:10]
    skew_dir = os.path.join(
        "/tmp", f"pymfe_skew_{src_tag}_r{replicate}_m{mega}"
    )
    marker = os.path.join(skew_dir, "_DONE")
    spark = get_spark(app_name="pymfe_spark_skew", cpus=cpus)
    if not os.path.exists(marker):
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
        )
        from gen_scaled_sf import generate

        generate(spark, sf_dir, skew_dir, replicate, mega_conv=mega)
        open(marker, "w").write("ok")

    t = turns(spark, skew_dir).persist()
    n_turns = t.count()
    ex = MFESpark(groups=("general", "statistical", "info-theory"))
    out: dict = {"sf": sf_dir, "replicate": replicate, "mega_turns": mega,
                 "n_turns": n_turns, "cpus": cpus, "paths": {}}
    for label, df_fn in (
        ("hybrid", lambda: ex.extract_hybrid(t)),
        ("pure", lambda: ex.extract(t)),
    ):
        _materialize(df_fn())  # warm-up: codegen + Python workers
        before = _completed_stages(spark)
        t0 = time.perf_counter()
        _materialize(df_fn())
        wall = time.perf_counter() - t0
        time.sleep(0.5)
        after = _completed_stages(spark)
        worst = {"ratio": 0.0}
        # the gate-factor ratio under-reports a straggler when EVERY
        # task in its stage is heavy (max/ideal stays ~1-2 even though
        # the max task gates the job wall) and over-weights tiny stages
        # (a 2 s task over a 0.2 s-ideal stage prints ratio 10). Record
        # the single largest task across every new stage too — the
        # direct wall-gating evidence.
        biggest = {"max_ms": 0.0}
        for sid, s in after.items():
            if sid in before:
                continue
            ts_ = _task_summary(spark, sid, s.get("attemptId", 0))
            if not ts_:
                continue
            # gate factor: how much one task gates the stage — max task
            # vs the stage's ideal parallel time (sum task time /
            # cores). max/median misleads on union stages that mix big
            # kernel tasks with tiny prefix/exact-tier tasks.
            ideal_ms = s.get("executorRunTime", 0) / cpus
            # before the substantial-stage filters: a kernel stage with
            # fewer than 4 tasks can still hold the wall-gating task
            if ts_["max_ms"] > biggest["max_ms"]:
                biggest = {
                    "stage": sid,
                    "tasks": s.get("numCompleteTasks", 0),
                    "ideal_parallel_ms": round(ideal_ms, 1),
                    **{k: round(v, 1) for k, v in ts_.items()},
                }
            # straggler ratios only matter on substantial stages: >= 4
            # tasks and a median task of real work
            if s.get("numCompleteTasks", 0) < 4 or ts_["median_ms"] < 100:
                continue
            ratio = ts_["max_ms"] / max(ideal_ms, 1.0)
            if ratio > worst["ratio"]:
                worst = {
                    "ratio": round(ratio, 2),
                    "stage": sid,
                    "tasks": s["numCompleteTasks"],
                    "ideal_parallel_ms": round(ideal_ms, 1),
                    **{k: round(v, 1) for k, v in ts_.items()},
                }
        out["paths"][label] = {
            "wall_sec": round(wall, 3),
            "turns_per_sec": round(n_turns / wall, 1),
            "worst_straggler": worst,
            "biggest_task": biggest,
        }
    t.unpersist()
    spark.stop()
    return out


def run_stream(sf_dir: str, cpus: int, replicate: int) -> dict:
    """Sustained-volume streaming measurement (round-2 verdict #6):
    drives the stateful per-conversation feature stream over a
    ``replicate``x transcript corpus and the banded-MinHash near-dup
    stream over a ``replicate``x document corpus, each through
    multiple micro-batches (availableNow + maxFilesPerTrigger), and
    reports rows/s plus the final state-store size from the progress
    metrics — bounded-state evidence at volume."""
    import shutil

    from pymfe_spark import get_spark
    from pymfe_spark.sources import transcripts
    from pymfe_spark.streaming.neardup import streaming_neardup_candidates
    from pymfe_spark.streaming.stateful import streaming_incremental_features

    spark = get_spark(app_name="pymfe_spark_stream_bench", cpus=cpus)
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools")
    )
    from gen_scaled_sf import scaled_documents, scaled_events

    base = f"/tmp/pymfe_stream_bench_r{replicate}"
    out: dict = {"sf": sf_dir, "replicate": replicate, "cpus": cpus,
                 "streams": {}}

    def drive(stream_df, name: str, n_input: int, mode: str):
        ckpt = f"{base}/{name}_ckpt"
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.perf_counter()
        q = (
            stream_df.writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = q.recentProgress
        state = [
            p["stateOperators"][0]
            for p in progress
            if p.get("stateOperators")
        ]
        # recentProgress caps at ~100 entries, so a long availableNow
        # run under-reports batch count there; batchId is monotonic
        # from 0, so the LAST entry's batchId + 1 is the true count
        # (state_rows_final also reads only the last entry — safe)
        n_batches = (
            int(progress[-1]["batchId"]) + 1 if progress else len(progress)
        )
        out["streams"][name] = {
            "input_rows": n_input,
            "micro_batches": n_batches,
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(n_input / wall, 1),
            "state_rows_final": state[-1]["numRowsTotal"] if state else None,
            "state_bytes_final": (
                state[-1].get("memoryUsedBytes") if state else None
            ),
        }

    # ---- stateful per-conversation feature vectors over turns -------
    tdir = f"{base}/turns_in"
    if not os.path.exists(f"{tdir}/_DONE"):
        shutil.rmtree(tdir, ignore_errors=True)
        ev_dir = f"{base}/events"
        scaled_events(spark, sf_dir, replicate).write.mode(
            "overwrite"
        ).parquet(f"{ev_dir}/events.parquet")
        transcripts(spark, ev_dir).repartition(16).write.mode(
            "overwrite"
        ).parquet(tdir)
        open(f"{tdir}/_DONE", "w").write("ok")
    n_turns = spark.read.parquet(tdir).count()
    drive(
        streaming_incremental_features(spark, tdir, max_files_per_trigger=4),
        "conv_features",
        n_turns,
        "update",
    )

    # ---- near-dup candidates over documents --------------------------
    ddir = f"{base}/docs_in"
    if not os.path.exists(f"{ddir}/_DONE"):
        shutil.rmtree(ddir, ignore_errors=True)
        from pyspark.sql import functions as F

        scaled_documents(spark, sf_dir, replicate).select(
            "doc_id",
            "text",
            F.to_timestamp(F.lit("2025-03-01 00:00:00")).alias("ts"),
        ).repartition(16).write.mode("overwrite").parquet(ddir)
        open(f"{ddir}/_DONE", "w").write("ok")
    n_docs = spark.read.parquet(ddir).count()
    drive(
        streaming_neardup_candidates(spark, ddir, max_files_per_trigger=4),
        "neardup",
        n_docs,
        "append",
    )
    spark.stop()
    return out


def run_backfill_only(sf_dir: str, cpus: int, replicate: int) -> dict:
    from pymfe_spark import get_spark

    spark = get_spark(app_name="pymfe_spark_scaling", cpus=cpus)
    n_turns, sec = _backfill(spark, sf_dir, replicate)
    spark.stop()
    return {
        "n_turns": n_turns,
        "backfill_sec": round(sec, 3),
        "turns_per_sec": round(n_turns / sec, 1),
        "cpus": cpus,
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        run_scaling(sys.argv[2] if len(sys.argv) > 2 else SF_DIR)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--stream":
        # bench.py --stream [sf_dir] [cpus] [replicate]
        a = sys.argv[2:]
        print(
            json.dumps(
                run_stream(
                    a[0] if len(a) > 0 else SF_DIR,
                    int(a[1]) if len(a) > 1 else CPUS,
                    int(a[2]) if len(a) > 2 else 40,
                )
            )
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        # bench.py --skew [sf_dir] [cpus] [replicate] [mega_turns]
        a = sys.argv[2:]
        print(
            json.dumps(
                run_skew(
                    a[0] if len(a) > 0 else SF_DIR,
                    int(a[1]) if len(a) > 1 else CPUS,
                    int(a[2]) if len(a) > 2 else 40,
                    int(a[3]) if len(a) > 3 else 1_000_000,
                )
            )
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--backfill-only":
        print(
            json.dumps(
                run_backfill_only(
                    sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
                )
            )
        )
        return
    print(json.dumps(run_bench(SF_DIR, CPUS)))


if __name__ == "__main__":
    main()
