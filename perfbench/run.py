"""Consumer benchmark: closed-loop batches through ``Engine.process_batch``.

    python3 perfbench/run.py --workload steady_keyed --seed 1 --seconds 15 --trace 0

Run from the repository root. One run:

1. set up once, cold: from the start of this script until the SparkSession
   is up (JVM launch included), the package is shipped and the ``Engine`` is
   built (``setup_s``);
2. generate the run's inputs from ``--seed`` (JSON-lines Kinesis records,
   one file per batch) together with the expected outcome of every batch;
3. process the warm-up batches (``warmup_s``), then measure distinct
   batches for ``--seconds`` seconds;
4. check every batch's ``BatchResult`` and, at the end, the DRQ, DMQ, state
   table and task-invocation count against what the generator planted.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything the run writes stays under
``perfbench/_work`` (removed at exit) and ``perfbench/_out`` (span dumps).
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# Engine section marks (Engine.last_section_times) per layer. Ingest runs
# from the batch's start until its stats job returns: that job executes the
# decode and materializes the phase-1 checkpoint (overlap_stats_wait), while
# the driver plans phase 2 beside it (overlap_plan).
INGEST_MARKS = {
    "fan_probe",
    "ingest_plan",
    "phase1_ckpt_call",
    "phase1_plan",
    "overlap_plan",
    "overlap_stats_wait",
    "ingest_checkpoint_and_stats",
}
# T1 load + T2 revive: the engine serves the prior state from the slice it
# saved last batch, so StateStore.load runs only on a cold state table.
LOAD_MARKS = {"revive_plan", "p2_revive_build", "revive_slice_plan"}

# Any of these statuses left in a task tree means the message is incomplete.
NON_FINAL_RE = r'"status":\s*"(Unstarted|Started|Failed|TimedOut|Unusable)"'


def workloads():
    from gen import Shape

    # warm = untimed batches before the window (batch 0 included), chosen
    # from the measured warm-up curve (README.md, "Warm-up").
    return {
        "steady_keyed": {
            "shape": Shape(),
            "batch": 5000,
            "warm": 2,
            "kpl_encoded": False,
        },
        "replay_dirty": {
            "shape": Shape(
                zipf_s=1.1, transient=0.1, unusable=0.05, kpl=0.1, kpl_size=4
            ),
            "batch": 5000,
            "warm": 1,
            "kpl_encoded": True,
        },
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, samples): the highest percentile with at least
    ten samples beyond it, or the maximum when there are too few samples."""
    xs = sorted(xs)
    n = len(xs)
    if n > 10:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    return (xs[-1] if xs else 0.0), 100.0, n


def make_task(invocations, user_s):
    """The benchmark's processOne task: counts its invocations and its own
    time in Spark accumulators; rejects planted rejects and fails planted
    transient failures on their first attempt."""
    from kinesis_stream_consumer_spark.streaming.tasks import TaskRejectedError

    def consume(message, task):
        t0 = time.perf_counter()
        invocations.add(1)
        try:
            if message.get("reject"):
                raise TaskRejectedError("planted reject")
            if message.get("fail_once") and task.attempts == 1:
                raise RuntimeError("planted transient failure")
        finally:
            user_s.add(time.perf_counter() - t0)

    return consume


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.wl = workloads()[args.workload]
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    # -- set-up --------------------------------------------------------------

    def setup(self) -> None:
        """The one cold set-up a consumer process pays: SparkSession (JVM
        launch included), package shipped to the workers and ``Engine``
        built, timed from the start of this script."""
        from kinesis_stream_consumer_spark.config import EngineConfig
        from kinesis_stream_consumer_spark.session import get_spark
        from kinesis_stream_consumer_spark.streaming import Engine, TaskDef

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter()
        sc = spark.sparkContext
        self.invocations = sc.accumulator(0)
        self.user_s = sc.accumulator(0.0)
        self.cfg = cfg = EngineConfig(
            sequencing_per_key=True,
            key_property_names=["k1", "k2"],
            id_property_names=["id1"],
            seq_no_property_names=["n1", "n2"],
            kpl_encoded=self.wl["kpl_encoded"],
        )
        d = self.work
        # Engine() ships the package (ensure_package_on_workers)
        self.eng = Engine(
            spark, cfg, f"{d}/state", f"{d}/drq", f"{d}/dmq",
            [TaskDef("consume", make_task(self.invocations, self.user_s))],
        )
        self.spark = spark
        t_end = time.perf_counter()
        self.setup_s = t_end - T_START
        self.session_start_s = t_session - T_START
        self.engine_build_s = t_end - t_session

    # -- one batch -----------------------------------------------------------

    def batch(self, bid: int, path: str, m: dict, tracer=None) -> dict:
        from kinesis_stream_consumer_spark.sources import read_records
        from kinesis_stream_consumer_spark.streaming import BatchReplayError

        spark, eng = self.spark, self.eng
        inv0 = self.invocations.value
        user0 = self.user_s.value
        if tracer is not None:
            from kinesis_stream_consumer_spark.functions.metrics import (
                last_execution_id,
            )

            exec0 = last_execution_id(spark)
            tracer.batch_span = tracer.span("batch", time.perf_counter(), 0.0,
                                            batch=bid)
        records = read_records(spark, path)
        marks: dict = {}
        attempts, walls, res = 0, [], None
        t0 = time.perf_counter()
        while attempts < 3:
            attempts += 1
            ta = time.perf_counter()
            replay = None
            try:
                res = eng.process_batch(records, bid)
            except BatchReplayError as e:
                replay = e.result
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                self.check(False, f"batch {bid}: {type(e).__name__}: {e}")
                break
            finally:
                walls.append(time.perf_counter() - ta)
                if tracer is not None:
                    tracer.span("engine.process_batch", ta, ta + walls[-1],
                                batch=bid, attempt=attempts)
            for k, v in eng.last_section_times.items():
                marks[k] = marks.get(k, 0.0) + v
            if replay is None:
                break
            if attempts == 1:
                self.check(
                    m["transient"] > 0
                    and replay.incomplete
                    == m["transient"] + m["blocked_first_attempt"]
                    and replay.rejected_to_dmq == m["rejected_first_attempt"]
                    and replay.messages == m["messages"],
                    f"batch {bid} attempt 1: {replay} vs {m}",
                )
        wall = time.perf_counter() - t0
        expect_attempts = 2 if m["transient"] else 1
        self.check(
            res is not None
            and attempts == expect_attempts
            and res.records == m["records"]
            and res.messages == m["messages"]
            and res.unusable == m["unusable"]
            and res.discarded_to_drq == m["unusable"]
            and res.rejected_to_dmq == m["rejected"]
            and res.incomplete == 0,
            f"batch {bid}: attempts={attempts} {res} vs {m}",
        )
        out = {
            "wall": wall,
            "attempt_walls": walls,
            "attempts": attempts,
            "messages": res.messages if res is not None else 0,
            "unusable": res.unusable if res is not None else 0,
            "marks": marks,
            "invocations": self.invocations.value - inv0,
            "user_s": self.user_s.value - user0,
        }
        if tracer is not None:
            from kinesis_stream_consumer_spark.functions.metrics import (
                last_execution_id,
                session_shuffle_records,
            )

            tracer.spans[tracer.batch_span]["end"] = t0 + wall
            ts = time.perf_counter()  # trace work from here: not in the window
            out["sql_executions"] = last_execution_id(spark) - exec0
            out["shuffle_records"] = session_shuffle_records(spark, exec0)
            out["spans"] = tracer.batch_sums(tracer.batch_span)
            tracer.batch_span = None
            out["trace_sweep_s"] = time.perf_counter() - ts
            out.update(self.sequencing_probe(records, m))
            out["trace_s"] = time.perf_counter() - ts
        return out

    def sequencing_probe(self, records, m: dict) -> dict:
        """Time the sequencing layer's executed work on this batch's
        messages, outside the batch wall. The engine has no separate
        sequencing step: it computes chain and sort keys inside its phase-1
        checkpoint and orders each chain inside the exec stage. Here the
        batch is ingested and checkpointed (untimed), then
        ``sequence_messages`` runs over it as one timed job whose result
        also yields the chain count, the longest chain and the number of
        KPL user records, which are checked against the manifest."""
        from pyspark.sql import functions as F

        from kinesis_stream_consumer_spark.streaming import (
            ingest,
            sequence_messages,
        )

        msgs = ingest(records, self.cfg).messages.localCheckpoint()
        sub = (F.col("event_sub_seq_no") if "event_sub_seq_no" in msgs.columns
               else F.lit(None))
        t = time.perf_counter()
        chains, longest, kpl_user = (
            sequence_messages(msgs, self.cfg)
            .agg(F.countDistinct("chain_key"), F.max("seq_index"),
                 F.count(sub))
            .first()
        )
        seq_s = time.perf_counter() - t
        self.check(
            (chains, longest, kpl_user)
            == (m["chains"], m["max_chain_len"], m["kpl_user_records"]),
            f"sequencing probe: chains {chains}, longest {longest}, KPL user "
            f"records {kpl_user} vs {m}",
        )
        return {"seq_s": seq_s, "chains": chains, "max_chain_len": longest,
                "kpl_user_records": kpl_user}

    # -- whole run -----------------------------------------------------------

    def main(self) -> dict:
        from probes import RssSampler, Tracer, dir_usage

        args, wl = self.args, self.wl
        rss = RssSampler().start()
        try:
            self.setup()

            from gen import Generator

            gen = Generator(wl["shape"], args.seed)

            def next_input(b):
                # generated between batches; its time is in no metric
                path = os.path.join(self.work, "in", f"batch-{b:05d}.json")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                m = gen.batch(wl["batch"], path)
                if args.wrong_count and b == 0:  # smoke test: must show
                    m["rejected"] += 1
                return path, m

            planted = {"messages": 0, "rejected": 0, "unusable": 0,
                       "transient": 0}
            # DRQ envelopes are appended on every attempt of a batch
            drq_expected = 0
            # a save replaces its shards' partitions: the state table holds
            # the last batch that touched each shard
            shard_rows = {}

            def timed_batch(b, tracer=None):
                nonlocal drq_expected
                path, m = next_input(b)
                t = time.perf_counter()
                r = self.batch(b, path, m, tracer)
                r["elapsed"] = time.perf_counter() - t - r.get("trace_s", 0.0)
                os.remove(path)
                r["manifest"] = m
                for k in planted:
                    planted[k] += m[k]
                drq_expected += m["unusable"] * r["attempts"]
                shard_rows.update(
                    (s, n) for s, n in enumerate(m["shard_messages"]) if n
                )
                return r

            warmup_s = sum(timed_batch(b)["elapsed"] for b in range(wl["warm"]))

            tracer = Tracer() if args.trace else None
            if tracer is not None:
                tracer.install(f"{self.work}/drq")
            measured = []
            window_s = 0.0
            b = wl["warm"]
            t_end = time.perf_counter() + 3 * args.seconds  # if batches fail fast
            while window_s < args.seconds and time.perf_counter() < t_end:
                measured.append(timed_batch(b, tracer))
                window_s += measured[-1]["elapsed"]
                b += 1
            if tracer is not None:
                tracer.uninstall()

            # -- end-of-run checks against the generator's plan --------------
            from pyspark.sql import functions as F

            spark, d = self.spark, self.work
            state = self.eng.state.read_all().agg(
                F.sum(F.col("tasks_json").rlike(NON_FINAL_RE).cast("int")),
                F.sum(F.col("kind").isin("message", "rejected").cast("int")),
            ).first()
            n_incomplete, n_msg_rows = state[0] or 0, state[1] or 0
            self.check(n_incomplete == 0, f"{n_incomplete} incomplete state rows")
            self.check(
                n_msg_rows == sum(shard_rows.values()),
                f"state holds {n_msg_rows} message rows, expected "
                f"{sum(shard_rows.values())}",
            )
            drq_rows = (
                spark.read.parquet(f"{d}/drq").count()
                if os.path.isdir(f"{d}/drq") else 0
            )
            self.check(drq_rows == drq_expected,
                       f"DRQ rows {drq_rows} != {drq_expected}")
            dmq_rows = dmq_ids = 0
            if os.path.isdir(f"{d}/dmq"):
                dmq_rows, dmq_ids = spark.read.parquet(f"{d}/dmq").agg(
                    F.count(F.lit(1)), F.countDistinct("id")
                ).first()
            self.check(dmq_ids == planted["rejected"],
                       f"DMQ identities {dmq_ids} != {planted['rejected']}")
            invocations = self.invocations.value
            self.check(
                invocations == planted["messages"] + planted["transient"],
                f"task invocations {invocations} != messages "
                f"{planted['messages']} + transient {planted['transient']}",
            )
            disk = {q: dir_usage(f"{d}/{q}") for q in ("state", "drq", "dmq")}
        finally:
            rss.stop()

        walls = [r["wall"] for r in measured]
        msgs = sum(r["messages"] for r in measured)
        tail_v, tail_pct, n = tail(walls)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "setup_s": self.setup_s,
            "batches_measured": n,
            "batch_walls_s": walls,
            "batch_tail_pct": tail_pct,
            "batch_tail_s": tail_v,
            "window_s": window_s,
            "error_rate": self.failed / max(self.attempted, 1),
            "problems": self.problems[:5],
        }
        if not args.trace:
            metrics = {
                "setup_s": (self.setup_s, "s"),
                "warmup_s": (warmup_s, "s"),
                "throughput_msgs_per_s": (msgs / window_s, "msg/s"),
                "batch_p50_s": (median(walls), "s"),
                "peak_nonheap_rss_mb": (rss.peak_nonheap_mb, "MB"),
            }
        else:
            metrics = self.layer_metrics(measured, disk, drq_rows, dmq_rows,
                                         window_s, rss)
            os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
            dump = os.path.join(
                HERE, "_out", f"trace-{args.workload}-seed{args.seed}.json"
            )
            with open(dump, "w") as f:
                json.dump({"detail": detail, "spans": tracer.spans}, f)
        print(json.dumps(detail))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, measured, disk, drq_rows, dmq_rows,
                      window_s, rss) -> dict:
        def med(f):
            return median([f(r) for r in measured])

        def marks(r, pred):
            return sum(v for k, v in r["marks"].items() if pred(k))

        def span(r, name):
            return r["spans"].get(name, 0.0)

        inv = sum(r["invocations"] for r in measured)
        return {
            "session.start_s": (self.session_start_s, "s"),
            "session.engine_build_s": (self.engine_build_s, "s"),
            "sources.kpl_user_records": (med(lambda r: r["kpl_user_records"]),
                                         "count"),
            "ingest.s": (med(lambda r: marks(r, INGEST_MARKS.__contains__)),
                         "s"),
            "ingest.plan_span_s": (med(lambda r: span(r, "ingest.plan")), "s"),
            "ingest.unusable_rows": (med(lambda r: r["unusable"]), "count"),
            "sequencing.s": (med(lambda r: r["seq_s"]), "s"),
            "sequencing.chains": (med(lambda r: r["chains"]), "count"),
            "sequencing.max_chain_len": (med(lambda r: r["max_chain_len"]),
                                         "count"),
            "tasks.s": (
                med(lambda r: marks(r, lambda k: k.startswith(("p2_", "exec_")))),
                "s"),
            "tasks.invocations": (med(lambda r: r["invocations"]), "count"),
            "tasks.user_s": (med(lambda r: r["user_s"]), "s"),
            "tasks.useful_ratio": (
                sum(r["messages"] for r in measured) / max(inv, 1), "ratio"),
            "state.save_s": (
                med(lambda r: r["marks"].get("t4_save_write", 0.0)), "s"),
            "state.save_span_s": (med(lambda r: span(r, "state.save")), "s"),
            "state.load_s": (
                med(lambda r: marks(r, LOAD_MARKS.__contains__)
                    + span(r, "state.load")), "s"),
            "state.bytes": (disk["state"][0], "B"),
            "state.files": (disk["state"][1], "count"),
            "dlq.append_s": (
                med(lambda r: span(r, "dlq.drq_append")
                    + span(r, "dlq.dmq_append")), "s"),
            "dlq.drq_rows": (drq_rows, "count"),
            "dlq.dmq_rows": (dmq_rows, "count"),
            "dlq.bytes": (disk["drq"][0] + disk["dmq"][0], "B"),
            "engine.plan_s": (
                med(lambda r: marks(r, lambda k: k.endswith(("_plan", "_build")))),
                "s"),
            "engine.unattributed_s": (
                med(lambda r: sum(r["attempt_walls"]) - sum(r["marks"].values())),
                "s"),
            "engine.sql_executions": (med(lambda r: r["sql_executions"]),
                                      "count"),
            "engine.shuffle_records": (med(lambda r: r["shuffle_records"]),
                                       "count"),
            "engine.attempts": (med(lambda r: r["attempts"]), "count"),
            "trace.batch_p50_s": (med(lambda r: r["wall"]), "s"),
            "trace.throughput_msgs_per_s": (
                sum(r["messages"] for r in measured) / window_s, "msg/s"),
            "trace.sweep_s": (med(lambda r: r["trace_sweep_s"]), "s"),
            "memory.peak_rss_mb": (rss.peak_mb, "MB"),
            "memory.java_heap_rss_mb": (rss.peak_heap_mb, "MB"),
        }


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, os.environ.get("PYTHONPATH", "")]
    )
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{jvm_opts}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_spark() -> None:
    """Stop the SparkContext and wait until the JVM has exited."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF
            proc.wait(timeout=60)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("replay_dirty", "steady_keyed"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smoke-test knobs (perfbench/smoke_test.py)
    p.add_argument("--batch", type=int, help=argparse.SUPPRESS)
    p.add_argument("--warm", type=int, help=argparse.SUPPRESS)
    p.add_argument("--wrong-count", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "kinesis_stream_consumer_spark")):
        print("perfbench: the package is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        prepare_env(work)
        os.chdir(work)  # spark-warehouse and friends land here
        run = Run(args, work)
        for k in ("batch", "warm"):
            if getattr(args, k) is not None:
                run.wl = dict(run.wl, **{k: getattr(args, k)})
        result = run.main()
    finally:
        stop_spark()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
