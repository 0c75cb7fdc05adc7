"""Benchmark of the mix_blink_spark linkage engine.

    python3 perfbench/run.py --workload er_scan --seed 1 --seconds 16 --trace 0

Run from the root of a checkout of the repository. One run generates or
reuses the workload's inputs for the seed, starts a fresh Spark session on
``local[nproc]`` and times its set-up (session plus a small warm-up
``link()`` with the workload's LinkConfig), then runs ``link()`` operations
back to back (a closed loop with one client) until they add up to
``--seconds`` seconds, at least two of them. Every operation's output is
checked outside the timed region.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the traced
run: Spark event logging on, spans around every library call, and the
per-layer metrics (see ``layers.py``). Human-readable lines go to stdout
first; the last stdout line is the JSON result. Spark's own logging goes
to stderr. Scratch data lives in ``.perfbench/`` under the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# an operation that alone outlasts --seconds (er_vocab's take 11-17 s)
# would otherwise be the whole median
MIN_OPS = 2

END_TO_END_UNITS = {
    "docs_per_s": "1/s",
    "pairwise_f1": "ratio",
    "setup_s": "s",
}


def _args(argv):
    from inputs import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _require_library() -> None:
    if not os.path.isfile(os.path.join(ROOT, "mix_blink_spark", "__init__.py")):
        sys.exit(f"perfbench: no mix_blink_spark package under {ROOT}; run from a full checkout")


class Run:
    """Attempted/failed bookkeeping and the result line."""

    def __init__(self, workload: str, seed: int):
        self.workload, self.seed = workload, seed
        self.attempted = 0
        self.errors: list[str] = []

    def record(self, error: str | None) -> None:
        self.attempted += 1
        if error:
            self.errors.append(error)
            print(f"perfbench: check failed: {error}", file=sys.stderr, flush=True)

    def emit(self, metrics: dict[str, tuple[float, str]], extra: dict) -> None:
        failed = len(self.errors)
        report = " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in metrics.items())
        info = " ".join(f"{k}={v}" for k, v in extra.items())
        print(f"# {self.workload} seed={self.seed}: {report}")
        print(f"# attempted={self.attempted} failed={failed} "
              f"fail_frac={failed / max(self.attempted, 1):.3g} {info}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }), flush=True)


def check_op(run: Run, rows, mention_ids, pairs, first: dict) -> float:
    """Check one operation's assignment; returns its pairwise F1."""
    from checks import fingerprint, lookup_prf, membership_error

    err = membership_error(rows, mention_ids)
    fp = fingerprint(rows)
    if err is None and first.setdefault("fingerprint", fp) != fp:
        err = "assignment differs from the first operation of this run"
    run.record(err)
    return lookup_prf(pairs, dict(rows))["f1"]


def op_loop(run: Run, spark, inputs: str, cfg, seconds: float, check) -> list[tuple[float, float]]:
    """Operations back to back until their summed wall time reaches
    ``seconds`` and there are at least ``MIN_OPS`` of them; (wall s,
    pairwise F1) of each one. Stops early at the first operation that
    raises."""
    import harness

    done: list[tuple[float, float]] = []
    while len(done) < MIN_OPS or sum(wall for wall, _ in done) < seconds:
        try:
            out, wall = harness.link_op(spark, inputs, cfg)
        except Exception as e:  # an operation that raises counts as failed
            traceback.print_exc()
            run.record(f"{type(e).__name__}: {e}")
            break
        done.append((wall, check(harness.collect_assignment(out))))
    return done


def check_text(run: Run, spark, inputs: str) -> None:
    """The scan ``link()`` uses extracts exactly the generator's text."""
    from checks import text_error
    from inputs import read_gold_text
    from mix_blink_spark.sources.pages import read_pages_extracted_python

    pdf = read_pages_extracted_python(
        spark, os.path.join(inputs, "pages"), columns=("url",)
    ).toPandas()
    run.record(text_error(dict(zip(pdf["url"], pdf["text"])), read_gold_text(inputs)))


def main(argv=None) -> None:
    sys.path.insert(0, HERE)
    args = _args(argv)
    _require_library()
    import harness

    harness.prepare_env(ROOT, WORK)
    sys.path.insert(0, ROOT)
    harness.become_subreaper()
    try:
        _main(args, harness)
    finally:
        harness.reap_children()


def _main(args, harness) -> None:
    from checks import sample_labeled_pairs
    from inputs import WORKLOADS, read_gold, warmup_inputs, workload_inputs

    w = WORKLOADS[args.workload]
    run = Run(w.name, args.seed)
    cores = harness.nproc()
    warm = warmup_inputs(w, args.seed, WORK)
    inputs = workload_inputs(w, args.seed, WORK)
    spark = None
    try:
        spark, setup_s = harness.timed_setup(
            WORK, warm, cores, w.link_config(), eventlog=bool(args.trace)
        )
        gold = read_gold(inputs)
        mention_ids = {m for m, _ in gold}
        pairs = sample_labeled_pairs(gold, args.seed)
        check_text(run, spark, inputs)
        first: dict = {}

        def check(rows) -> float:
            return check_op(run, rows, mention_ids, pairs, first)

        if args.trace:
            from layers import traced_run

            metrics, incremental = traced_run(
                spark, w, inputs, warm, args.seed, WORK, cores, check, run.record
            )
            spark = None  # traced_run ends every context it starts
            if incremental:
                print("# streaming.incremental: " + " ".join(
                    f"{k}={v:.6g} {u}" for k, (v, u) in incremental.items()))
            run.emit(metrics, {"cores": cores})
            return
        timed = op_loop(run, spark, inputs, w.link_config(), args.seconds, check)
        if not timed:
            sys.exit("perfbench: no operation completed")
        from tracing import peak_rss_mb

        # printed, not in the result: it spreads 0.1-0.23 from run to run
        # (JVM heap growth, Python worker count), too wide for a bound
        rss_mb = peak_rss_mb(harness.jvm_pid())
        walls = [wall for wall, _ in timed]
        with open(os.path.join(WORK, f"untraced-{w.key}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": args.seed, "op_s": statistics.median(walls)}) + "\n")
        metrics = {
            "docs_per_s": w.n_pages / statistics.median(walls),
            "pairwise_f1": statistics.median(f1 for _, f1 in timed),
            "setup_s": setup_s,
        }
        run.emit(
            {k: (v, END_TO_END_UNITS[k]) for k, v in metrics.items()},
            {"peak_rss_mb": f"{rss_mb:.1f} MB", "cores": cores,
             "op_s": [round(x, 3) for x in walls]},
        )
    finally:
        harness.shutdown(spark)


if __name__ == "__main__":
    main()
