"""Lakehouse benchmark: one workload per run, on ``local[nproc]`` from a
single driver process.

    python3 perfbench/run.py --workload medallion_incremental \
        --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (which also
writes every span to ``.perfbench_out/``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import sys
import time

if __package__ in (None, ""):  # run as a script: make ``perfbench`` importable
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.checks import CheckFailed  # noqa: E402


class Run:
    """One run's state: its session, tracer, counters and samples.

    A run has a set-up phase (session, inputs, initial load, warm-up)
    and a timed phase of whole rounds. Every round repeats the same
    operations on the same kind of state, so per-round figures are
    comparable whatever the number of rounds a run completes."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.run_id = f"{workload}-{seed}-{os.getpid()}"
        self.tracer = harness.Tracer(trace, self.run_id)
        self.session = harness.Session(work)
        self.attempted = self.failed = 0
        self.check_errors: list[str] = []
        self.writes: list[float] = []
        self.reads: list[float] = []
        self.round_walls: list[float] = []
        self.rows = 0
        self.setup_s = None
        self.end = {}
        self.layers = {}
        self.peak_rss_mb = 0.0

    @property
    def timed(self) -> bool:
        return self.tracer.timed

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        spark = self.session.start(self.tracer)
        self.tracer.bind(spark)
        harness.trace_program(self.tracer)
        return spark


    @contextlib.contextmanager
    def op(self, kind: str, name: str):
        """One operation of the workload. Operations of the timed rounds
        count as attempted, and the duration of a ``write`` or ``read``
        there is a latency sample."""
        with self.tracer.span(name) as s:
            yield s
        if self.timed:
            self.attempted += 1
            if kind in ("write", "read"):
                (self.writes if kind == "write" else self.reads).append(s.dur)

    def check(self, fn, *args, op_result: bool = False) -> None:
        """Run a check. A failure makes the run incorrect; with
        ``op_result`` it instead counts the operation whose output was
        checked as failed (a known program fault on fixed inputs)."""
        try:
            fn(*args)
        except CheckFailed as e:
            if op_result:
                harness.log(f"FAILED OPERATION: {e}")
                if self.timed:
                    self.failed += 1
            else:
                harness.log(f"CHECK FAILED: {e}")
                self.check_errors.append(str(e))

    def timed_rounds(self, round_fn, before=None) -> None:
        """Run whole rounds until ``seconds`` have passed (at least one).
        ``round_fn(i)`` returns the input rows it took through the
        workload's path; ``before(i)``, if given, resets the state a
        round starts from, outside the round's wall time. Set-up is
        everything from the process's start until here."""
        self.setup_s = harness.process_age_s()
        self.tracer.timed = True
        t_start = time.perf_counter()
        i = 0
        while True:
            if before is not None:
                before(i)
            with self.tracer.span("bench.round", round=i) as s:
                self.rows += round_fn(i)
            self.round_walls.append(s.dur)
            i += 1
            if time.perf_counter() - t_start >= self.seconds:
                break
        self.tracer.timed = False

    def finish(self, stored_bytes: int) -> None:
        """End-to-end figures at the end of the timed phase, and the
        per-layer ones when tracing."""
        jvm = self.session.jvm.pid if self.session.jvm else None
        self.end = {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (harness.median(self.round_walls), "s"),
            "rows_per_s": (self.rows / sum(self.round_walls), "rows/s"),
            "write_p50_s": (harness.median(self.writes), "s"),
            "read_p50_s": (harness.median(self.reads), "s"),
            "stored_mb": (stored_bytes / 1e6, "MB"),
        }
        # not an end-to-end metric: it does not repeat within a tenth
        # from run to run (see README); the trace file keeps it
        self.peak_rss_mb = harness.peak_rss_bytes(jvm) / 1e6
        if self.tracer.enabled:
            self.layers = per_layer(self)


WORKLOADS = {
    "medallion_incremental": "medallion",
    "cdc_upsert_mor": "cdc",
    "corpus_curation": "corpus",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "pipeline.lakehouse_medallion_s": "s",
    "sources.lakehouse.append_s": "s",
    "sources.lakehouse.merge_into_s": "s",
    "sources.lakehouse.overwrite_s": "s",
    "sources.lakehouse.read_call_s": "s",
    "sources.lakehouse.read_action_s": "s",
    "sources.lakehouse.rewrite_data_files_s": "s",
    "sources.lakehouse.expire_snapshots_s": "s",
    "sources.lakehouse.spark_jobs": "count",
    "sources.lakehouse.data_files": "count",
    "sources.lakehouse.pending_delete_entries": "count",
    "sources.lakehouse.snapshots": "count",
    "sources.lakehouse.metadata_bytes": "bytes",
    "sources.lakehouse.write_amplification": "ratio",
    "streaming.commit_to_visible_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.query_start_s": "s",
    "streaming.batches": "count",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.candidate_precision": "ratio",
    "operators.dedup.near_recall": "ratio",
    "operators.text.quality_score_s": "s",
    "operators.similarity.ann_ivf_s": "s",
    "operators.similarity.ann_bruteforce_s": "s",
    "operators.similarity.ivf_recall": "ratio",
}


def per_layer(r: Run) -> dict:
    """Per-layer figures from the spans and samples of a traced run.
    Times are median self times per call in the timed phase; a layer
    the workload does not call reads 0."""
    tr = r.tracer
    lh = "sources.lakehouse."
    out = {
        "session.get_spark_s": tr.median_self("session.get_spark"),
        "pipeline.lakehouse_medallion_s": tr.median_self("pipeline.lakehouse_medallion"),
        "sources.lakehouse.read_call_s": tr.median_self(
            (lh + "read", lh + "scan"), "bench.read"),
        "sources.lakehouse.spark_jobs": tr.jobs_per_call(),
    }
    for n in ("append", "merge_into", "overwrite", "read_action",
              "rewrite_data_files", "expire_snapshots"):
        out[f"{lh}{n}_s"] = tr.median_self(lh + n)
    for n in ("operators.dedup.exact", "operators.dedup.minhash_lsh",
              "operators.text.quality_score", "operators.similarity.ann_ivf",
              "operators.similarity.ann_bruteforce"):
        out[n + "_s"] = tr.median_self(n)
    for name in PER_LAYER_UNITS:
        if name not in out:
            vals = tr.samples.get(name, [])
            stat = harness.median if name.endswith(("_s", "_ms")) else harness.mean
            out[name] = stat(vals)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before any process starts, when the program is absent
    import apache_iceberg_exploration_spark  # noqa: F401

    work = harness.prepare_env(args.workload)
    harness.install_signal_exit()
    module = importlib.import_module("perfbench." + WORKLOADS[args.workload])
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        module.run(r)
    finally:
        try:
            r.session.stop()
        finally:
            harness.cleanup(work)
    correct = not r.check_errors
    if args.trace:
        metrics = {k: (v, PER_LAYER_UNITS[k]) for k, v in r.layers.items()}
        r.tracer.dump(
            os.path.join(harness.OUT_ROOT, f"trace-{r.run_id}.json"),
            {"workload": r.workload, "seed": r.seed,
             "end_to_end": {k: v for k, (v, _) in r.end.items()},
             "peak_rss_mb": r.peak_rss_mb,
             "check_errors": r.check_errors},
        )
    else:
        metrics = r.end
    print(json.dumps({
        "correct": correct,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
