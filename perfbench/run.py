"""Job-level benchmark: ``filter_job`` end to end, one run at a time.

    python3 perfbench/run.py --workload longtail-b1 --seed 1 --seconds 30 --trace 0

A closed loop: one client starts a ``filter_job`` run in a fresh process
(``jobwrap.py``, which behaves as ``python -m
languagedetection_spark.jobs.filter_job``) at local[4], waits for it to
exit, checks its output, and starts the next one until ``--seconds`` have
passed (at least one run).  Inputs are generated from ``--seed``
(``workloads.py``).  Everything the benchmark writes stays under the
checkout: ``.bench_cache/`` (inputs), ``.bench_runs/`` (job output, removed
at exit) and ``.bench_out/`` (one JSON record per benchmark run).

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.  ``--trace
1`` makes one traced job run (spans around the job's calls into each
module), then the layer-split variants of ``layers.py``, and prints the
per-layer metrics.  The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
RUN_ID = "bench"
TABLE = "bench_kept"
FAIL_AFTER = 1                 # resume-export: buckets before the injected exit
JOB_TIMEOUT = 120              # s, one job process
EXIT_GRACE = 20                # s for the JVM and workers to end after the job
CHECK_SAMPLE = {"synth": 300, "longtail": 200}    # turns checked vs the oracle
KERNEL_SAMPLE = {"synth": 4000, "longtail": 400}  # turns timed in-process


class RunFailed(Exception):
    """A job run exited unexpectedly or its output failed the check."""


def job_env(tmp: str) -> dict:
    """The job's environment: the checkout's package first on the path, and
    every temp and spill dir of Python, the JVM and Spark inside ``tmp``.
    The JVMs keep their perf counters in memory instead of /tmp."""
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_LAUNCHER_OPTS="-XX:+PerfDisableSharedMem",
        PYSPARK_SUBMIT_ARGS=(
            "--driver-java-options '-XX:+PerfDisableSharedMem "
            f"-Djava.io.tmpdir={tmp}' pyspark-shell"),
    )
    return env


def wait_gone(probe, timeout: float) -> None:
    """Wait until every process seen in the job's tree has ended; kill the
    stragglers after ``timeout`` and give up after twice that."""
    start = time.time()
    while alive := probe.alive():
        waited = time.time() - start
        if waited > 2 * timeout:
            raise RuntimeError(f"job processes {alive} did not end")
        if waited > timeout:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run_tree(cmd: list[str], cwd: str, env: dict, out_path: str,
             err_path: str):
    """Run ``cmd`` in its own session; kill its process group after
    JOB_TIMEOUT or when this process exits early, and wait for every
    process of its tree to end.  Returns (exit code, start, end, probe)."""
    import procprobe

    with open(out_path, "w") as out, open(err_path, "w") as err:
        t_start = time.time()
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                             start_new_session=True)
        probe = procprobe.TreeProbe(p.pid)
        try:
            p.wait(timeout=JOB_TIMEOUT)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
            rc = p.wait()
            t_end = time.time()
            probe.stop()
            wait_gone(probe, EXIT_GRACE)
    return rc, t_start, t_end, probe


def invoke(ctx, cwd: str, job_args: list[str], trace: bool,
           expect_fail: str | None = None) -> dict:
    """One job process; returns its timings, probes and wrapper record."""
    os.makedirs(cwd, exist_ok=True)
    rec_path = os.path.join(cwd, "wrap.json")
    out_path, err_path = (os.path.join(cwd, n) for n in ("stdout", "stderr"))
    rc, t_start, t_end, probe = run_tree(
        [sys.executable, os.path.join(HERE, "jobwrap.py"), rec_path,
         "1" if trace else "0", *job_args],
        cwd, ctx["env"], out_path, err_path)
    with open(out_path) as f:
        stdout = f.read()
    with open(err_path) as f:
        stderr = f.read()
    exited_as_expected = (rc != 0 and expect_fail in stderr) \
        if expect_fail else rc == 0
    if not exited_as_expected:
        raise RunFailed(f"job exited {rc}: {stderr[-2000:]}")
    jvm_mb, py_mb = probe.peaks()
    with open(rec_path) as f:
        rec = json.load(f)
    return {"t_start": t_start, "t_end": t_end, "rc": rc,
            "setup_s": rec["broadcast_done"] - t_start,
            "jvm_mb": jvm_mb, "py_mb": py_mb, "rec": rec,
            "result": json.loads(stdout.strip().splitlines()[-1])
            if rc == 0 else None}


def iteration(ctx, k: int, trace: bool) -> dict:
    """One closed-loop run of the workload (two job processes on
    resume-export), followed by its output check."""
    import outcheck

    d = os.path.join(ctx["work"], f"it{k}")
    out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
    nb = ctx["buckets"]
    base = ["--input", ctx["data"], "--output", out, "--checkpoint", ckpt,
            "--buckets", str(nb), "--run-id", RUN_ID, "--master", MASTER]
    invs = []
    # flush the input and earlier runs' output to disk now, so that their
    # write-back does not overlap the timed jobs
    os.sync()
    try:
        if ctx["workload"] == "resume-export":
            invs.append(invoke(
                ctx, os.path.join(d, "fail"),
                base + ["--fail-after", str(FAIL_AFTER)], trace,
                expect_fail=f"injected failure after {FAIL_AFTER} buckets"))
            report, wh = os.path.join(d, "conv_report"), os.path.join(d, "wh")
            invs.append(invoke(
                ctx, os.path.join(d, "resume"),
                base + ["--conv-report", report, "--bucketed-table", TABLE,
                        "--warehouse-dir", wh], trace))
            processed = invs[-1]["result"]["processed_buckets"]
            if processed != list(range(FAIL_AFTER, nb)):
                raise RunFailed(f"resume processed buckets {processed}, "
                                f"not the unfinished {FAIL_AFTER}..{nb - 1}")
        else:
            invs.append(invoke(ctx, os.path.join(d, "job"), base, trace))
        decided = outcheck.check_job_output(
            ctx["input"], out, ckpt, RUN_ID, nb, ctx["oracle"],
            ctx["seed"] * 1000 + k, CHECK_SAMPLE[ctx["gen"]])
        if ctx["workload"] == "resume-export":
            outcheck.check_exports(decided, report, os.path.join(wh, TABLE))
            invs[-1]["files_written"] = len([
                f for f in os.listdir(os.path.join(wh, TABLE))
                if f.endswith(".parquet")])
        error = None
    except (RunFailed, outcheck.CheckError) as e:
        error = f"{type(e).__name__}: {e}"
    finally:
        shutil.rmtree(d, ignore_errors=True)
    it = {"ok": error is None, "error": error, "invocations": invs}
    if len(invs) == (2 if ctx["workload"] == "resume-export" else 1):
        setups = [i["setup_s"] for i in invs]
        wall = invs[-1]["t_end"] - invs[0]["t_start"]
        it.update(
            wall_s=wall, setups=setups,
            turns_per_s=ctx["profile"]["turns"] / (wall - sum(setups)),
            jvm_peak_rss_mb=max(i["jvm_mb"] for i in invs),
            py_peak_rss_mb=max(i["py_mb"] for i in invs))
    return it


def end_to_end(its: list[dict]) -> dict:
    timed = [i for i in its if "wall_s" in i]
    if not timed:
        raise RuntimeError("no job run got as far as a timing: "
                           + "; ".join(str(i["error"]) for i in its))
    med = lambda key: statistics.median(i[key] for i in timed)  # noqa: E731
    return {
        "setup_s": statistics.median(s for i in timed for s in i["setups"]),
        "wall_s": med("wall_s"),
        "turns_per_s": med("turns_per_s"),
        "py_peak_rss_mb": med("py_peak_rss_mb"),
    }


def per_layer(ctx, traced: dict, spark_layers: dict,
              kernels: dict) -> tuple[dict, dict]:
    """Per-layer metrics from the traced run's spans and the variants,
    and the self time per span name."""
    import spans as sp

    invs = traced["invocations"]
    spans = [s for i in invs for s in i["rec"]["spans"]]
    tot = sp.totals(spans)
    own = sp.self_times(spans)
    buckets = sorted(s["end"] - s["start"] for s in spans
                     if s["name"] == "checkpoint.bucket" and not s["error"])
    wall = sum(i["t_end"] - i["t_start"] for i in invs)
    covered = sum(sp.top_level_covered(i["rec"]["spans"], i["t_start"],
                                       i["t_end"]) for i in invs)
    g = tot.get
    m = {
        # the JVM heap's growth follows GC timing: 10-20% apart between
        # runs, too wide for an end-to-end bound at one job run per run
        "jvm.peak_rss_mb": traced["jvm_peak_rss_mb"],
        "session.get_spark_s": g("session.get_spark", 0.0),
        "model.build_s": g("model.build", 0.0),
        "model.fingerprint_s": g("model.fingerprint", 0.0),
        "model.broadcast_s": g("model.broadcast", 0.0),
        "model.pickle_mb": ctx["pickle_mb"],
        **spark_layers,       # + udfs.parallel_eff_pairs, kept in the record
        **kernels,            # + kernels.sample_turns
        "kernels.init_s": ctx["init_s"],
        "checkpoint.bucket_s.p50": statistics.median(buckets),
        "checkpoint.bucket_s.max": buckets[-1],
        "checkpoint.write_s": own.get("checkpoint.bucket", 0.0),
        "checkpoint.bucket_metrics_s": g("checkpoint.bucket_metrics", 0.0),
        "checkpoint.record_done_s": g("checkpoint.record_done", 0.0),
        "io.read_amplification":
            sum(i["rec"]["bucket_loop_rchar"] for i in invs)
            / ctx["profile"]["bytes"],
        "checkpoint.load_completed_s": g("checkpoint.load_completed", 0.0),
        "checkpoint.buckets_skipped":
            sum(i["rec"].get("buckets_skipped", 0) for i in invs),
        "quality_filter.conv_report_s": g("quality_filter.conv_report", 0.0),
        "sinks.write_bucketed_s": g("sinks.write_bucketed", 0.0),
        "sinks.files_written":
            sum(i.get("files_written", 0) for i in invs),
        # the job processes' time in span bookkeeping and /proc probes
        "trace.overhead_s": sum(i["rec"]["tracer_s"] + i["rec"]["probe_s"]
                                for i in invs),
        "trace.unattributed_share": 1 - covered / wall,
    }
    return m, own


def layer_run(ctx, traced: dict) -> tuple[dict, dict]:
    """The layer-split variants: model size and start-up, the Spark
    variants in a fresh JVM, and the in-process kernel timers."""
    import layers

    work = ctx["work"]
    pk = os.path.join(work, "model.pkl")
    ctx["pickle_mb"] = layers.model_pickle(pk)
    ctx["init_s"] = layers.init_seconds(pk, ctx["env"], work)
    out, err = os.path.join(work, "layers.json"), os.path.join(work, "err")
    rc, *_ = run_tree(
        [sys.executable, os.path.join(HERE, "layers.py"), out, ctx["data"]],
        work, ctx["env"], os.devnull, err)
    if rc != 0:
        with open(err) as f:
            raise RuntimeError(f"layers.py exited {rc}: {f.read()[-2000:]}")
    with open(out) as f:
        spark_layers = json.load(f)
    texts = ctx["input"].column("text").to_pylist()
    sample = random.Random(ctx["seed"]).sample(
        texts, min(KERNEL_SAMPLE[ctx["gen"]], len(texts)))
    return per_layer(ctx, traced, spark_layers, layers.kernel_layers(sample))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the job
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    sys.path.insert(0, ROOT)
    try:
        import languagedetection_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in the checkout: {e}",
              file=sys.stderr)
        return 2
    import outcheck
    import procprobe
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}")
    gen, buckets = workloads.WORKLOADS[args.workload]
    data, profile = workloads.materialize(
        args.workload, args.seed, os.path.join(ROOT, ".bench_cache"))
    work = os.path.join(ROOT, ".bench_runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = {"workload": args.workload, "seed": args.seed, "gen": gen,
           "buckets": buckets, "data": data, "profile": profile,
           "work": work, "env": job_env(os.path.join(work, "tmp")),
           "input": workloads.read_input(data),
           "oracle": outcheck.oracle()}
    print(f"# {args.workload} seed={args.seed} input: "
          + " ".join(f"{k}={v}" for k, v in profile.items()))
    load0 = procprobe.loadavg()
    its: list[dict] = []
    try:
        record = {"workload": args.workload, "seed": args.seed,
                  "profile": profile, "iterations": its}
        if args.trace:
            traced = iteration(ctx, 0, trace=True)
            its.append(traced)
            if not traced["ok"]:
                raise RuntimeError(f"traced run failed: {traced['error']}")
            metrics, own = layer_run(ctx, traced)
            record["self_times"] = own
            wanted = spec["per_layer"]
        else:
            t0 = time.time()
            while True:
                its.append(iteration(ctx, len(its), trace=False))
                if time.time() - t0 >= args.seconds:
                    break
            metrics = end_to_end(its)
            wanted = spec["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load1 = procprobe.loadavg()
    failed = sum(not i["ok"] for i in its)
    record.update(loadavg_start=load0, loadavg_end=load1, metrics=metrics)
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out",
                           f"{args.workload}-{args.seed}-trace{args.trace}"
                           ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for k, i in enumerate(its):
        print(f"# run {k}: "
              + (f"wall {i['wall_s']:.3f} s, setup "
                 + "/".join(f"{s:.3f}" for s in i["setups"]) + " s, "
                 if "wall_s" in i else "")
              + ("output check ok" if i["ok"] else f"FAILED {i['error']}"))
    if args.trace:
        print("# self time per layer (s): " + ", ".join(
            f"{k}={v:.3f}" for k, v in sorted(own.items())))
    timed = [i for i in its if "wall_s" in i]
    for m in wanted:
        n = sum(len(i["setups"]) for i in timed) if m["name"] == "setup_s" \
            else len(timed)
        print(f"{m['name']:32s} {metrics[m['name']]:14.4f} {m['unit']:8s}"
              + ("" if args.trace else f" median of {n}"))
    print(f"{'failed_ratio':32s} {failed / len(its):14.4f} "
          f"({failed}/{len(its)} runs)")
    print(f"# loadavg start {load0} end {load1}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(its), "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]],
                                "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
