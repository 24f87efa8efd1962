"""kgforge benchmark: one workload per invocation, closed loop, one client.

Usage (from the repository root):

    python3 perfbench/run.py --workload build --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload read --seed 1 --seconds 5 --trace 1
    python3 perfbench/run.py --compare a.json b.json   # records written by --out
    python3 perfbench/run.py --pin-seeds 0-29          # refresh pins.json

Each invocation starts one driver on ``local[<nproc>]`` with BLAS threads
pinned to 1, a ``spark.local.dir`` inside the checkout and every other
setting at the program's default (the effective Spark conf is recorded).
It generates the workload's inputs from ``--seed``, then runs complete
passes back to back (one client, closed loop) until ``--seconds`` have
elapsed and at least the workload's ``min_passes`` are done, checking
every pass's outputs.  At the benchmark's ``run_seconds`` that is one
pass, the first in a fresh session: JIT and code generation are part of
it, as they are of every ``python -m kgforge.pipeline`` run.  The last
stdout line is the result ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the full record (host fingerprint,
sizes, every check, spans).

Workloads (sizes in ``inputs.py``; timings on a 4-vCPU, 15 GB host, where
a Spark job costs ~0.1-0.2 s however small, so a run of either workload
takes ~45-55 s; an unmeasured warm-up pass costs ~20 s whatever its input
size and does not fit the run budget):

- ``build``: ``run_pipeline`` over 1,150 files: the rows of
  ``synth.synth_files_df`` (1,000 files, closed vocabulary of ~70 linkable
  entities) plus 150 small files whose names come from a vocabulary that
  grows with the corpus (~350 linkable entities in ``x``/``x_v2``/``x_impl``
  clusters).  One pass of ~22-26 s.  Lexing in
  ``stages.mentions`` and the triples write carry the closed-vocabulary
  part; with 16 buckets per LSH band ``link`` scores ~E^2/2 pairs over the
  open-vocabulary part, so ``embed`` + ``link`` carry the rest and a
  blocking or skew change shows in the same pass.
- ``read``: three ``operators.codegraph`` consumers (``call_graph``, the
  ``impact_radius`` BFS and the ``scc_labels`` peel over the call graph)
  on a seeded, pred-partitioned triple table (200 files, vocabulary
  2 x files, power-law calls), then the registered ``kcore`` and
  ``ngram_jaccard_pairs`` queries over a seeded documents table, each
  checked against its DuckDB oracle.  No pipeline stage runs.  One pass
  of ~22-29 s.  These are the fixpoint loops and the
  prefix-posting join later work is most likely to move; the other
  codegraph consumers and registered queries are not measured, because a
  pass over all sixteen takes ~60 s cold here.

A build pass's triples must reach P/R >= 0.95 against
``kgforge.oracle.twin`` over the whole corpus, and their checksum (count +
bit_xor(xxhash64)) must equal the pin for the seed in ``pins.json`` where
one exists; every later pass (with a larger ``--seconds``) and the resumed
run must reproduce it.

End-to-end metrics (``--trace 0``), every workload:

- ``setup_s``: session start + input generation, once per run (a second
  session start does not fit the run budget).
- ``pass_s``: median wall of the complete passes (one at the benchmark's
  ``run_seconds``).
- ``files_per_s`` / ``triples_per_s``: corpus files and triples (written
  by a build, read by ``read``) per second of ``pass_s``.
- ``resume_s``: median wall of re-opening the finished run from its
  checkpoints (``build``: ``run_pipeline`` over the last verified run
  root; ``read``: ``CheckpointManager.get_or_run`` on the consumer input).
- Failures are the result line's ``failed`` out of ``attempted`` (units:
  each pass and the resume check for ``build``; each
  consumer and query, and the resume check, for ``read``; a run that
  raises outside these counts one failed unit).  They are not a metric:
  a metric must never read 0.

Per-layer metrics (``--trace 1``; layer -> metrics -> what they move):

- ``mentions``: wall_s cpu_s util gc_s shuffle_bytes task_skew jobs rows
  -> ``files_per_s`` on ``build``.
- ``embed``, ``link``: wall_s cpu_s util shuffle_bytes spill_bytes
  task_skew jobs; ``embed.entities``; ``link.pairs_scored``,
  ``link.links``, ``link.yield`` (links / pairs scored),
  ``link.valve_dropped_rows`` -> ``pass_s`` on ``build``.
- ``canonical``: wall_s jobs mapped -> ``pass_s`` on ``build``.
- ``triples``, ``lineage``: wall_s cpu_s bytes_written jobs rows ->
  ``pass_s`` and ``triples_per_s`` on ``build``.
- ``checkpoint``: wall_s jobs -> ``resume_s``.
- ``pipeline`` (totals of one pass): jobs stages shuffle_bytes.
- ``codegraph.<kernel>``: wall_s cpu_s util shuffle_bytes jobs ->
  ``pass_s`` on ``read``.
- ``graph.<query>``, ``dedup.<query>``: wall_s cpu_s shuffle_bytes jobs
  -> ``pass_s`` on ``read``.
- ``session.start_s``, ``input.gen_s`` -> ``setup_s``.
- ``driver.peak_rss_mb``: peak resident memory of this process, the
  driver JVM and its Python workers, sampled from ``/proc`` every 0.2 s.
  It is per-layer, not end-to-end, because under the default 32g driver
  heap the JVM's heap growth varies about 2x from run to run (2.5-5.1 GB
  over five ``build`` runs), wider than any bound could hold.
- ``trace.overhead_s``: traced minus untraced ``pass_s``, the untraced
  figure from the same workload and seed run with ``--trace 0`` in a fresh
  process after the traced one has stopped.  It reads 0 (and the record's
  ``untraced_pass_s`` null) when that run would not end within
  ``RUN_LIMIT_S`` of the traced run's start.

A layer a workload does not run reads 0.  Per-layer values are per call
into the layer, medians over the traced passes.  ``util`` is executor run
time over (wall x cores); ``task_skew`` is max over median task run time;
``cpu_s`` and ``gc_s`` are the JVM executor's (Python UDF workers run
outside it).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RSS_INTERVAL_S = 0.2
RUN_LIMIT_S = 160  # a traced run, its untraced twin included, ends within this
WORKLOADS = ("build", "read")
BLAS_ENV = {"OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1", "MKL_NUM_THREADS": "1"}
ORIG_ENV = dict(os.environ)  # what an untraced twin run starts from
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "files_per_s": "files/s",
    "triples_per_s": "triples/s",
    "resume_s": "s",
}
_STAGE_METRICS = {
    "mentions": ["wall_s", "cpu_s", "util", "gc_s", "shuffle_bytes", "task_skew", "jobs"],
    "embed": ["wall_s", "cpu_s", "util", "shuffle_bytes", "spill_bytes", "task_skew", "jobs"],
    "link": ["wall_s", "cpu_s", "util", "shuffle_bytes", "spill_bytes", "task_skew", "jobs"],
    "canonical": ["wall_s", "jobs"],
    "triples": ["wall_s", "cpu_s", "bytes_written", "jobs"],
    "lineage": ["wall_s", "cpu_s", "bytes_written", "jobs"],
    "checkpoint": ["wall_s", "jobs"],
}
COUNTERS = [
    "mentions.rows", "embed.entities", "link.pairs_scored", "link.links", "link.yield",
    "link.valve_dropped_rows", "canonical.mapped", "triples.rows", "lineage.rows",
]
UNITS = {
    "wall_s": "s", "cpu_s": "s", "gc_s": "s", "util": "ratio", "task_skew": "ratio",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes", "bytes_written": "bytes",
    "jobs": "count", "stages": "count", "rows": "count", "entities": "count",
    "pairs_scored": "count", "links": "count", "yield": "ratio",
    "valve_dropped_rows": "count", "mapped": "count", "start_s": "s", "gen_s": "s",
    "overhead_s": "s", "peak_rss_mb": "MB",
}


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in BENCHMARK.json order."""
    from perfbench.workloads import KERNELS, QUERY_LAYER

    names = [f"{layer}.{m}" for layer, ms in _STAGE_METRICS.items() for m in ms]
    names += COUNTERS
    names += ["pipeline.jobs", "pipeline.stages", "pipeline.shuffle_bytes"]
    for k in KERNELS:
        names += [
            f"codegraph.{k}.{m}" for m in ("wall_s", "cpu_s", "util", "shuffle_bytes", "jobs")
        ]
    for q, layer in QUERY_LAYER.items():
        names += [f"{layer}.{q}.{m}" for m in ("wall_s", "cpu_s", "shuffle_bytes", "jobs")]
    return names + ["session.start_s", "input.gen_s", "driver.peak_rss_mb", "trace.overhead_s"]


def unit_of(name: str) -> str:
    return UNITS[name.rsplit(".", 1)[1]]


# --------------------------------------------------------------- host
def _cores() -> int:
    return len(os.sched_getaffinity(0))


def fingerprint(spark) -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": _cores(),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "master": f"local[{_cores()}]",
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", "1g"),
    }


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and its Python daemon/workers), sampled from /proc."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.peak_kb = 0
        self._stop = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self._t = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        if self.enabled:
            self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self.enabled:
            self._t.join(timeout=5)

    def _run(self):
        while not self._stop.wait(RSS_INTERVAL_S):
            self.peak_kb = max(self.peak_kb, self.sample_kb())

    def sample_kb(self) -> int:
        return sum(self._rss_kb(p) for p in descendants(os.getpid()) | {os.getpid()})

    def _rss_kb(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page_kb
        except (OSError, IndexError, ValueError):
            return 0


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out: set[int] = set()
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


# ------------------------------------------------------------ session
def start_session(work: str, event_log: str | None):
    from kgforge.session import build_session

    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    conf = {"spark.local.dir": local}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{event_log}",
            }
        )
    return build_session("kgforge-perfbench", master=f"local[{_cores()}]", extra_conf=conf)


def stop_jvm() -> None:
    """Stop the active Spark context, then the gateway JVM, and wait until
    the JVM and every process it started have exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(procs, kill_after=30)


def wait_gone(pids, kill_after: float) -> None:
    """Wait until every process in ``pids`` has exited, SIGKILLing the ones
    still alive after ``kill_after`` seconds."""
    deadline = time.time() + kill_after
    for pid in pids:
        while _alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                deadline = time.time() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# --------------------------------------------------------------- run
def _median(xs):
    return statistics.median(xs) if xs else 0.0


def measure(workload, tracer, seconds: float, counters: bool, errors: list[str]) -> list:
    """Closed loop: each pass starts when the previous one is done, until
    ``seconds`` have elapsed and the workload's ``min_passes`` are done.
    A pass that raises is counted failed by the workload; the loop goes on
    (up to three errors)."""
    passes: list = []
    deadline = time.perf_counter() + seconds
    while len(passes) < workload.min_passes or time.perf_counter() < deadline:
        tracer.pass_no += 1
        try:
            passes.append(workload.run_pass(want_counters=counters and tracer.pass_no == 1))
        except Exception as e:
            errors.append(f"pass {tracer.pass_no}: {type(e).__name__}: {e}"[:500])
            if len(errors) >= 3:
                break
    return passes


def run(args, work: str, budget_left=lambda: 0.0) -> dict:
    """One benchmark run in this process; returns the full record.

    Anything that raises (set-up, check preparation, a pass, resume)
    ends the run with at least one failed unit; the record and result
    line are still written.  A traced run then measures the same
    workload and seed untraced in a fresh process, within the seconds
    ``budget_left()`` returns, for ``trace.overhead_s``."""
    from perfbench import trace, workloads

    traced = bool(args.trace)
    checks = workloads.Checks()
    event_log = os.path.join(work, "eventlog") if traced else None
    rec: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "errors": [],
        "end_to_end": dict.fromkeys(END_TO_END, 0.0),
    }
    e2e = rec["end_to_end"]
    ctx = w = None
    passes: list = []
    with RssSampler(enabled=traced) as rss:  # sampling is tracing: off in timed runs
        try:
            t_start = time.perf_counter()
            spark = start_session(work, event_log)
            session_s = time.perf_counter() - t_start
            rec["fingerprint"] = fingerprint(spark)
            rec["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
            app_id = spark.sparkContext.applicationId
            tracer = trace.Tracer(spark.sparkContext, traced)
            ctx = workloads.Context(spark, work, args.seed, tracer, checks)
            t0 = time.perf_counter()
            w = workloads.make(args.workload, ctx)
            rec["sizes"] = w.setup()
            gen_s = time.perf_counter() - t0
            e2e["setup_s"] = time.perf_counter() - t_start
            t0 = time.perf_counter()
            w.prepare_checks()
            rec["check_setup_s"] = time.perf_counter() - t0
            passes = measure(w, tracer, args.seconds, traced, rec["errors"])
            e2e["pass_s"] = _median([p.wall for p in passes])
            e2e["resume_s"] = _median(w.resume(w.resumes))
        except Exception as e:
            rec["errors"].append(f"{type(e).__name__}: {e}"[:500])
            # the raise may already be counted by the unit it interrupted
            if not checks.failed:
                checks.unit(False)
        finally:
            stop_jvm()
    peak_mb = rss.peak_kb / 1024

    if w is not None and e2e["pass_s"]:
        units = w.units()
        e2e["files_per_s"] = units["files"] / e2e["pass_s"]
        e2e["triples_per_s"] = units["triples"] / e2e["pass_s"]
    rec.update(
        {
            "pass_walls": [p.wall for p in passes],
            "attempted": checks.attempted,
            "failed": checks.failed,
            "checks": checks.log,
            "observed_pins": ctx.observed_pins if ctx else {},
        }
    )
    if traced and not checks.failed:
        rec["spans"] = tracer.spans
        pl = per_layer(
            trace.fold_event_log(event_log, app_id), tracer, passes, session_s, gen_s, _cores()
        )
        pl["driver.peak_rss_mb"] = peak_mb
        untraced = untraced_pass_s(args, budget_left())
        rec["untraced_pass_s"] = untraced
        # 0 (with untraced_pass_s null in the record) when it did not fit
        pl["trace.overhead_s"] = e2e["pass_s"] - untraced if untraced else 0.0
        rec["per_layer"] = pl
    return rec


def untraced_pass_s(args, budget_s: float) -> float | None:
    """``pass_s`` of the same workload and seed, untraced, from a fresh
    process (so both sides start equally cold).  None if it does not end
    within ``budget_s`` or is not correct; the child and every process it
    started are then killed and waited for."""
    if budget_s < 30:
        return None
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=ORIG_ENV, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=budget_s)
    except subprocess.TimeoutExpired:
        procs = descendants(proc.pid) | {proc.pid}
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        wait_gone(procs, kill_after=0)
        shutil.rmtree(work_dir(os.getcwd(), args.workload, proc.pid), ignore_errors=True)
        return None
    lines = out.decode().strip().splitlines()
    line = json.loads(lines[-1]) if lines else {}
    return line["metrics"]["pass_s"]["value"] if line.get("correct") else None


def per_layer(folded: dict, tracer, passes, session_s: float, gen_s: float, cores: int) -> dict:
    """Each layer's figures, per call into the layer, as the median over
    the traced passes that called it."""
    from perfbench import trace

    walls, calls = tracer.walls()
    out: dict[str, float] = {}

    def ev(key, name):
        return folded.get(key, {}).get(name, 0)

    for layer in {lyr for (lyr, _) in calls} - {"probe"}:
        keys = [k for k in calls if k[0] == layer and k[1] >= 1]

        def med(fn):
            return _median([fn(k) for k in keys])

        out[f"{layer}.wall_s"] = med(lambda k: walls[k] / calls[k])
        for name in ("cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "bytes_written", "jobs"):
            out[f"{layer}.{name}"] = med(lambda k, n=name: ev(k, n) / calls[k])
        out[f"{layer}.task_skew"] = med(lambda k: ev(k, "task_skew"))
        out[f"{layer}.util"] = med(
            lambda k: ev(k, "run_s") / (walls[k] * cores) if walls[k] else 0.0
        )

    stage_layers = set(trace.STAGE_LAYER.values()) | {"pipeline"}
    pass_nos = sorted(p for (lyr, p) in calls if lyr == "pipeline" and p >= 1)
    for name in ("jobs", "stages", "shuffle_bytes"):
        out[f"pipeline.{name}"] = _median(
            [sum(ev((lyr, p), name) for lyr in stage_layers) for p in pass_nos]
        )
    if passes and passes[0].counters:
        out.update(passes[0].counters)
    out["session.start_s"] = session_s
    out["input.gen_s"] = gen_s
    return out


def result_line(record: dict, traced: bool) -> dict:
    if traced:
        vals = record.get("per_layer", {})
        metrics = {n: {"value": vals.get(n, 0), "unit": unit_of(n)} for n in per_layer_names()}
    else:
        metrics = {n: {"value": record["end_to_end"][n], "unit": u} for n, u in END_TO_END.items()}
    return {
        "correct": record["failed"] == 0 and record["attempted"] > 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }


# ------------------------------------------------------------ compare
def compare(a_path: str, b_path: str) -> int:
    """Print b's end-to-end metrics relative to a's; refuse when the two
    records were made on different hosts."""
    with open(a_path) as fh:
        a = json.load(fh)
    with open(b_path) as fh:
        b = json.load(fh)
    if a.get("fingerprint") != b.get("fingerprint"):
        print(json.dumps({"refused": "host fingerprints differ",
                          "a": a.get("fingerprint"), "b": b.get("fingerprint")}))
        return 3
    if a["workload"] != b["workload"]:
        print(json.dumps({"refused": "different workloads"}))
        return 3
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    rows = {}
    for name, m in spec.items():
        va, vb = a["end_to_end"][name], b["end_to_end"][name]
        worse = (vb - va) / va if m["better"] == "lower" else (va - vb) / va
        rows[name] = {
            "a": va, "b": vb, "worse_by": round(worse, 4), "regressed": worse > m["bound"]
        }
    print(json.dumps({"workload": a["workload"], "metrics": rows}))
    return 0


def write_pins(workload: str, seed: int, observed: dict) -> None:
    """Merge one seed's observed output checksums into pins.json; an
    existing pin that disagrees is an error, never overwritten."""
    from perfbench.workloads import PINS_PATH, load_pins

    pins = load_pins()
    slot = pins.setdefault(workload, {}).setdefault(str(seed), {})
    for key, value in observed.items():
        if slot.get(key, value) != value:
            raise SystemExit(f"pin mismatch for {workload} seed {seed} {key}")
        slot[key] = value
    with open(PINS_PATH, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


def pin_seeds(names, seeds: list[int], work: str) -> int:
    """Pin output checksums for many seeds in one session: per workload
    and seed, set-up and one checked pass (nothing timed)."""
    from perfbench import trace, workloads

    spark = start_session(work, None)
    failed = 0
    try:
        for name in names:
            for seed in seeds:
                sub = os.path.join(work, f"{name}-{seed}")
                checks = workloads.Checks()
                ctx = workloads.Context(
                    spark, sub, seed, trace.Tracer(spark.sparkContext, False), checks
                )
                w = workloads.make(name, ctx)
                w.setup()
                w.prepare_checks()
                w.run_pass(want_counters=False)
                if checks.failed:
                    failed += 1
                    print(json.dumps({"workload": name, "seed": seed, "checks": checks.log}))
                else:
                    write_pins(name, seed, ctx.observed_pins)
                shutil.rmtree(sub, ignore_errors=True)
    finally:
        stop_jvm()
    return 1 if failed else 0


def work_dir(root: str, workload: str | None, pid: int) -> str:
    return os.path.join(root, ".perfbench", f"{workload or 'pins'}-{pid}")


def main(argv: list[str]) -> int:
    t_begin = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full record to this file")
    ap.add_argument("--pin-seeds", metavar="A-B",
                    help="pin the output checksums of seeds A..B in pins.json (of --workload, "
                         "or of every workload)")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.compare)
    if not args.workload and not args.pin_seeds:
        ap.error("--workload is required")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kgforge", "pipeline.py")):
        print("perfbench: run from the repository root (kgforge/ not found)", file=sys.stderr)
        return 2
    work = work_dir(root, args.workload, os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(BLAS_ENV)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # keep the JVM's and Python's scratch files inside the checkout; without
    # -XX:-UsePerfData the JVM writes hsperfdata under /tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o
    )
    sys.path.insert(0, root)

    try:
        if args.pin_seeds:
            lo, hi = (int(x) for x in args.pin_seeds.split("-"))
            names = [args.workload] if args.workload else WORKLOADS
            return pin_seeds(names, list(range(lo, hi + 1)), work)
        record = run(args, work, lambda: RUN_LIMIT_S - (time.perf_counter() - t_begin))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    print(json.dumps(record, default=str))
    print(json.dumps(result_line(record, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
