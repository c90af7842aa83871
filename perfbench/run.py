#!/usr/bin/env python3
"""End-to-end record-linkage benchmark.

    python3 perfbench/run.py --workload link-dense --seed 1 --seconds 20 --trace 0

Run from the repository root. One run: generate the workload's inputs from
``--seed`` (three times, checking they are identical), then time batch passes
— each a fresh ``local[4]`` JVM running ``pipeline.run_pipeline`` from pages
to committed ``er_clusters`` in a fresh checkpoint directory — until
``--seconds`` have been timed, checking every pass's output after its timed
region. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``; with ``--trace 1`` one untraced and one traced pass, and the
per-layer metrics of the traced one. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import WORKLOADS, generate  # noqa: E402
from spans import EMPTY_GROUP, LAYERS  # noqa: E402

CORES = 4
DRIVER_MEM = "2g"
GEN_REPEATS = 3
# a run must end within 180 s: passes share this budget
RUN_TIMEOUT_S = 170
MB = 1e6


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def process_tree(root_pid: int) -> tuple[int, set[int]]:
    """Memory of ``root_pid`` and all its descendants, and their pids.

    The JVM counts its resident set (``statm``): reading its
    ``smaps_rollup`` holds its memory-map lock for milliseconds and slows
    the run being measured. The Python processes count their proportional
    set size, so pages Spark's forked Python workers share are counted once,
    not once per worker."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    page = os.sysconf("SC_PAGE_SIZE")
    total, seen, todo = 0, set(), [root_pid]
    while todo:
        pid = todo.pop()
        seen.add(pid)
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
            if is_jvm:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
            else:
                total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            continue
    return total, seen


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_all(pids: set[int], timeout: float = 20.0) -> None:
    """SIGKILL every pid still running and wait until none is."""
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def run_pass(root: str, run_dir: str, data: str, tag: str, deadline: float, checks: bool,
             traced: bool, spans_path: str = "") -> dict:
    """Run one worker process, killed at ``deadline`` (monotonic clock);
    return its result with ``peak_rss_bytes``."""
    work = os.path.join(run_dir, tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--data", data,
           "--workdir", os.path.join(work, "ckpt"), "--tmp", tmp, "--out", out,
           "--cores", str(CORES), "--checks", str(int(checks))]
    if traced:
        cmd += ["--events", os.path.join(work, "events"), "--spans", spans_path]
    env = dict(os.environ)
    env.update({
        # Spark's Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join([root] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # every JVM of the pass, spark-submit's launcher too, keeps its
        # temporary files in the run directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    peak, pids = [0], set()
    done = threading.Event()
    with open(os.path.join(work, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        pids.add(proc.pid)

        def sample():
            # the JVM and Spark's Python daemon (its own process group)
            # outlive the worker briefly, so remember every pid ever seen
            while not done.is_set():
                rss, seen = process_tree(proc.pid)
                peak[0] = max(peak[0], rss)
                pids.update(seen)
                done.wait(0.2)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            done.set()
            sampler.join()
            stop_all(pids)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "worker.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"pass {tag} failed (exit {rc}):\n{tail}")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_bytes"] = peak[0]
    print(f"{tag}: session {res['session_s']:.2f} s, e2e {res['e2e_s']:.2f} s, "
          f"peak {peak[0] / MB:.0f} MB, counts {res.get('counts')}", file=sys.stderr)
    return res


def layer_metrics(res: dict, sizes: dict) -> dict:
    groups, self_s = res["groups"], res["self_s"]
    m = {}
    for layer in LAYERS:
        g = groups.get(layer, EMPTY_GROUP)
        wall = self_s.get(layer, 0.0)
        m.update({
            f"{layer}.wall_s": (wall, "s"),
            f"{layer}.task_s": (g["task_s"], "s"),
            f"{layer}.core_util": (g["task_s"] / (wall * CORES) if wall > 0 else 0.0, "ratio"),
            f"{layer}.jobs": (g["jobs"], "count"),
            f"{layer}.shuffle_mb": (g["shuffle_bytes"] / MB, "MB"),
            f"{layer}.spill_mb": (g["spill_bytes"] / MB, "MB"),
            f"{layer}.rows_out": (g["rows_out"], "count"),
            f"{layer}.failed_tasks": (g["failed_tasks"], "count"),
        })
    c = res["counts"]
    traced = [n for n in groups if n in LAYERS or n == "pipeline"]
    m.update({
        "blocking.pairs_per_record": (c["pairs"] / c["records"], "ratio"),
        "scoring.match_frac": (c["match_edges"] / c["pairs"], "ratio"),
        "scoring.train_rows": (res["train_rows"], "count"),
        "mentions.per_kb_text": (c["mentions"] / (sizes["text_bytes"] / 1024), "1/KB"),
        "checkpoint.write_mb": (sum(groups[n]["output_bytes"] for n in traced) / MB, "MB"),
        # every traced job outside extract reads committed checkpoints (the
        # title index clean() also reads is < 1% of those bytes)
        "checkpoint.read_mb": (sum(groups[n]["input_bytes"] for n in traced if n != "extract") / MB, "MB"),
        "cluster.cc.components": (c["er_clusters"], "count"),
    })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM unwind through the finally blocks that stop the workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "minimel_spark", "pipeline.py")):
        print("run from the repository root: minimel_spark/ not found", file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench_work")
    run_dir = os.path.join(state, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return _run(args, root, state, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, root: str, state: str, run_dir: str) -> int:
    deadline = time.monotonic() + RUN_TIMEOUT_S
    checks: dict[str, list[str]] = {}  # check -> failure messages

    # set-up: generate the inputs several times; they must be identical
    data = os.path.join(run_dir, "data")
    gen_s, digests = [], set()
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        sizes = generate(args.workload, args.seed, data)
        gen_s.append(time.perf_counter() - t)
        digests.add(sizes["digest"])
    checks["inputs"] = [] if len(digests) == 1 else ["input generation is not deterministic"]

    passes: list[dict] = []
    timed = pass_wall = 0.0
    # another pass only while --seconds are not yet timed and one more fits
    while not passes or (not args.trace and timed < args.seconds
                         and deadline - time.monotonic() > 1.5 * pass_wall):
        t = time.monotonic()
        res = run_pass(root, run_dir, data, f"pass{len(passes)}", deadline,
                       checks=not args.trace, traced=False)
        pass_wall = time.monotonic() - t
        passes.append(res)
        timed += res["e2e_s"]
    traced = None
    if args.trace:
        os.makedirs(os.path.join(state, "traces"), exist_ok=True)
        spans_path = os.path.join(state, "traces", f"{args.workload}-{args.seed}.spans.json")
        traced = run_pass(root, run_dir, data, "traced", deadline, checks=True, traced=True,
                          spans_path=spans_path)

    checked = [p for p in passes + [traced] if p and "counts" in p]
    counts = checked[0]["counts"]
    for i, p in enumerate(checked):
        checks[f"output {i}"] = p["failures"]
        if p["counts"] != counts:
            checks[f"output {i}"].append("pair/cluster counts differ between passes")
    # counts must repeat exactly across runs at the same seed
    hist_path = os.path.join(state, "counts", f"{args.workload}-{args.seed}.json")
    checks["repeat"] = []
    if os.path.exists(hist_path):
        with open(hist_path) as f:
            if json.load(f) != counts:
                checks["repeat"].append("pair/cluster counts differ from an earlier run at this seed")
    else:
        os.makedirs(os.path.dirname(hist_path), exist_ok=True)
        with open(hist_path, "w") as f:
            json.dump(counts, f)
    failed = [name for name, msgs in checks.items() if msgs]
    for name in failed:
        print(f"check failed ({name}):", "; ".join(checks[name]), file=sys.stderr)

    def med(key):
        return statistics.median(p[key] for p in passes)

    if args.trace:
        metrics = layer_metrics(traced, sizes)
        metrics["trace.overhead_s"] = (traced["e2e_s"] - passes[0]["e2e_s"], "s")
    else:
        e2e = med("e2e_s")
        metrics = {
            "setup_s": (statistics.median(gen_s) + med("session_s"), "s"),
            "e2e_s": (e2e, "s"),
            "pages_per_s": (sizes["pages"] / e2e, "1/s"),
            "pairs_per_s": (counts["pairs"] / e2e, "1/s"),
            "peak_rss_mb": (med("peak_rss_bytes") / MB, "MB"),
            "ckpt_bytes_per_input_byte": (med("ckpt_bytes") / sizes["input_bytes"], "ratio"),
            "name_f1_vs_ref": (statistics.median(p["name_f1_vs_ref"] for p in checked), "ratio"),
            "er_f1_vs_gold": (statistics.median(p["er_f1_vs_gold"] for p in checked), "ratio"),
        }
    print(json.dumps({
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
