"""Outside-in benchmark of the KG pipeline and of cube validation.

Usage (from the repository root):

    python3 perfbench/run.py --workload {kg_pipeline,cube_small} --seed N \\
        --seconds S --trace {0,1}

One process is one closed-loop client: a fresh Spark session, the seeded
input, then passes back to back; the first pass always runs and further
passes start while less than ``--seconds`` have gone by since it began.
Every pass checks its output (see workloads.py) and a wrong result or an
exception counts as a failed pass.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process start
until the session is built and the input materialized), ``first_pass_cpu_s``
(CPU seconds of this process tree during the first pass) and
``shuffle_bytes`` (of the first pass). ``--trace 1`` is a separate
run that wraps every library call in a span, runs the named workload and
then the other one (so one traced run covers every layer), writes the span
tree to ``.perfbench_out/trace-<workload>-<seed>.json`` and prints the
per-layer metrics. The last stdout line is the result JSON; the line before
it describes the run (nproc, load average, git sha, seed, pass times).

Every run works in its own directory under ``.perfbench_runs/`` (warehouse,
Spark local dir, temp files, workdirs) and deletes it at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _process_age_s() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


END_TO_END = [
    ("setup_s", "s"),
    ("first_pass_cpu_s", "s"),
    ("shuffle_bytes", "bytes"),
]

SIX = [("wall_s", "s"), ("jobs", "count"), ("task_s", "s"), ("busy_ratio", "ratio"),
       ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")]
SIX_LAYERS = ["extraction", "linking", "canonicalize", "construct", "dictionary", "encode",
              "atrest_write", "rdf_read", "normalize", "validate"]


def per_layer_spec() -> list[tuple[str, str]]:
    spec = [("session.wall_s", "s"), ("session.jobs", "count"), ("session.task_s", "s"),
            ("transcripts.wall_s", "s"), ("transcripts.rows", "count"), ("cube_gen.wall_s", "s")]
    spec += [(f"{layer}.{c}", u) for layer in SIX_LAYERS for c, u in SIX]
    for i in range(1, 22):
        spec += [(f"validate.ic{i}.wall_s", "s"), (f"validate.ic{i}.jobs", "count")]
        if i in (11, 12):
            spec.append((f"validate.ic{i}.shuffle_bytes", "bytes"))
    spec.append(("trace.overhead_s", "s"))
    spec.append(("driver.peak_rss_mb", "MB"))
    return spec


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of this machine's CPUs since boot."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def _git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _layer_metrics(spans: list[dict], nproc: int, overhead_s: float,
                   rss_mb: float) -> dict[str, float]:
    agg: dict[str, dict[str, float]] = {}
    for sp in spans:
        a = agg.setdefault(sp["name"], {"wall_s": 0.0, "jobs": 0, "task_s": 0.0,
                                         "shuffle_bytes": 0, "spill_bytes": 0, "rows": 0})
        a["wall_s"] += sp["end_s"] - sp["start_s"]
        for k in ("jobs", "task_s", "shuffle_bytes", "spill_bytes", "rows"):
            a[k] += sp.get(k, 0)
    for a in agg.values():
        a["busy_ratio"] = a["task_s"] / (a["wall_s"] * nproc) if a["wall_s"] > 0 else 0.0
    out = {}
    for name, _unit in per_layer_spec():
        layer, counter = name.rsplit(".", 1)
        if name == "trace.overhead_s":
            out[name] = overhead_s
        elif name == "driver.peak_rss_mb":
            out[name] = rss_mb
        else:
            out[name] = agg[layer][counter]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["kg_pipeline", "cube_small"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    ticks0 = _cpu_ticks()
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": nproc,
            "loadavg_start": os.getloadavg()[0], "git_sha": _git_sha()}

    # library imports fail here when the checkout holds only the benchmark
    sys.path.insert(0, str(ROOT))
    from nospa_rdf_data_cube_validator_spark.session import get_spark
    from perfbench.recorder import RETAIN_CONF, Counters, Recorder, read_status, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    runs = ROOT / ".perfbench_runs"
    runs.mkdir(exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp

    rec = Recorder()
    spark = None
    try:
        with rec.span("session"):
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{nproc}]",
                shuffle_partitions=nproc,
                extra_conf={
                    **RETAIN_CONF,
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                    "spark.local.dir": os.path.join(run_dir, "local"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                },
            )
        rec.attach(spark)
        order = [args.workload] + ([w for w in WORKLOADS if w != args.workload] if args.trace else [])
        loads = [WORKLOADS[w](spark, run_dir, args.seed) for w in order]
        with rec.span("setup"):
            for wl in loads:
                wl.setup(rec)
        setup_s = _process_age_s()
        info["setup_cpu_s"] = tree_cpu_s()

        attempted = failed = 0
        passes = []
        for wl in loads:
            start = time.perf_counter()
            while wl.n_pass == 0 or time.perf_counter() - start < args.seconds:
                attempted += 1
                cpu0 = tree_cpu_s()
                with rec.span(f"{wl.name}.pass") as sp:
                    try:
                        ok, detail = wl.run_pass(rec, traced=bool(args.trace))
                    except Exception as exc:  # noqa: BLE001 — a crashed pass is a failed pass
                        ok, detail = False, f"{type(exc).__name__}: {exc}"
                failed += not ok
                passes.append({"workload": wl.name, "group": sp.group, "s": sp.end - sp.start,
                               "cpu_s": tree_cpu_s() - cpu0, "ok": ok, "detail": detail})
                if args.trace:
                    break  # one traced pass per workload
        rss_mb = _peak_rss_mb(spark)
        ticks1 = _cpu_ticks()
        # share of this machine's CPU time its host gave to others (steal)
        info["steal_share"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        info.update(setup_s=setup_s, peak_rss_mb=rss_mb, passes=passes)

        if args.trace:
            spans = rec.to_json(rec.spans[0].start)
            metrics = _layer_metrics(spans, nproc, rec.overhead_s, rss_mb)
            specs = per_layer_spec()
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            with open(out_dir / f"trace-{args.workload}-{args.seed}.json", "w") as fh:
                json.dump({"info": info, "spans": spans}, fh, indent=1)
        else:
            first = passes[0]
            first_counters = read_status(spark).get(first["group"], Counters())
            metrics = {
                "setup_s": setup_s,
                "first_pass_cpu_s": first["cpu_s"],
                "shuffle_bytes": first_counters.shuffle_bytes,
            }
            specs = END_TO_END
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in specs},
    }))
    return 0


def _stop(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    raise SystemExit(main())
