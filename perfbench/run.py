#!/usr/bin/env python3
"""Deployed-pipeline benchmark for ``jobs/build_graph.py``.

    python3 perfbench/run.py --workload ontology_hpo18k --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout. One Spark session is built at
local[<cores>]; inputs are generated from ``--seed`` into a fresh work
directory under the checkout; then the CLI's ``main(argv)`` is called
in-process, each rep into a fresh ``--output``, until ``--seconds`` have
been measured. Every rep's committed output is checked against an oracle
that does not use the engine's matcher (see workloads.py).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
REP_DEADLINE_S = 90.0
MIN_REPS = 2
WARMUP_TURNS = 2_000

WORKLOADS = ("ontology_hpo18k", "refresh_relabel200k")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=14.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="every workload at toy size, then the generator "
                        "determinism and oracle perturbation self-tests")
    args = p.parse_args(argv)
    if not (args.smoke or args.workload):
        p.error("--workload is required")
    return args


def require_program() -> None:
    missing = [f for f in ("fhir_owl_spark/__init__.py", "jobs/build_graph.py")
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        sys.exit(f"perfbench: run from the repository root; missing {missing}")


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


def start_session(work: str, trace: bool):
    from fhir_owl_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", parallelism=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    log(f"session {time.perf_counter() - t:.1f}s")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and so its Python worker
    daemon) to exit: the JVM leaves when its stdin pipe closes."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def become_subreaper() -> None:
    """Make processes orphaned below this one (the Python workers the JVM's
    worker daemon forks, should the daemon exit first) this process's
    children, so that ``reap_children`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0):
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until every process started below this one has ended: after
    ``grace_s`` send SIGTERM to those still running, after twice that
    SIGKILL. Returns once this process has no child left."""
    import signal

    t0 = time.perf_counter()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no child left
            return
        waited = time.perf_counter() - t0
        sig = (signal.SIGKILL if waited > 2 * grace_s
               else signal.SIGTERM if waited > grace_s else None)
        if sig is not None and sig != sent:
            left = descendants(os.getpid())
            log(f"sending {sig.name} to {len(left)} process(es) still running")
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
            sent = sig
        time.sleep(0.05)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def load_cli():
    spec = importlib.util.spec_from_file_location(
        "perfbench_cli", os.path.join(ROOT, "jobs", "build_graph.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


# ---------------------------------------------------------------------------
# Workload set-up: inputs, the argv of one rep, the oracle
# ---------------------------------------------------------------------------


class Workload:
    """Inputs of one workload and the CLI call one rep makes."""

    def __init__(self, name: str, spark, work: str, seed: int, size):
        import workloads as wl

        self.name, self.spark, self.work, self.seed, self.size = name, spark, work, seed, size
        self.wl = wl
        self.inp = os.path.join(work, "in")
        os.makedirs(self.inp, exist_ok=True)
        self.reps = 0
        self.cli = load_cli()
        self.corpus = os.path.join(self.inp, "corpus")
        if name == "ontology_hpo18k":
            self.turns = size.hpo_turns
            self.ont, self.cfg = wl.synthetic_owl(size.hpo_concepts, seed)
            self.owl = os.path.join(self.inp, "ontology.owl")
            wl.write_rdfxml(self.ont, self.owl)
            self.planted = wl.write_planted_corpus(self.corpus, self.ont, self.turns, seed)
        else:
            # v1: the qops build over the hub corpus; it also warms the
            # JVM and the Python workers for the timed reps
            self.turns = size.hub_turns
            wl.write_hub_corpus(spark, self.corpus, self.turns, seed)
            self.v1 = os.path.join(self.inp, "v1")
            t = time.perf_counter()
            self.cli_main(["--fixture", "qops", "--transcripts", self.corpus,
                           "--output", self.v1, "--chunks", str(size.hub_chunks),
                           "--cpus", str(cores())])
            log(f"{name}: v1 build {time.perf_counter() - t:.1f}s")
            self.ont, self.cfg, self.relabeled = wl.relabeled_qops()
            self.v2 = os.path.join(self.inp, "v2")
            wl.write_ontology_tables(self.ont, self.v2)

    def warm_up(self) -> None:
        """One untimed CLI call of the timed shape, so the timed reps run
        with a warm JVM and Python workers: for the ontology workload on a
        small corpus (which also compiles the per-worker mention kernel),
        for the refresh workload a whole refresh (the v1 build warms the
        build path only; the first refresh runs 15-25% slower than the
        next)."""
        out = os.path.join(self.work, "out", "warmup")
        if self.name != "ontology_hpo18k":
            self.cli_main(self.argv(out, self.corpus))
            return
        small = os.path.join(self.inp, "warmup_corpus")
        self.wl.write_planted_corpus(small, self.ont, WARMUP_TURNS, self.seed + 1)
        self.cli_main(self.argv(out, small))

    def cli_main(self, argv: list[str]) -> dict:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = self.cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"CLI exited {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def argv(self, out: str, corpus: str) -> list[str]:
        common = ["--transcripts", corpus, "--output", out, "--cpus", str(cores())]
        if self.name == "ontology_hpo18k":
            return common + [
                "--owl", self.owl, "--synonym-props", ",".join(self.cfg.synonym_props),
                "--export-codesystem", f"{out}.codesystem.json",
                "--chunks", str(self.size.hpo_chunks),
            ]
        return common + self.wl.QOPS_CFG_FLAGS + [
            "--concepts", f"{self.v2}/concepts", "--edges", f"{self.v2}/edges",
            "--synonyms", f"{self.v2}/synonyms", "--refresh-from", self.v1,
        ]

    def rep(self) -> tuple[str, dict]:
        """One timed call: CLI to committed output, plus its read-back
        count. Returns (output dir, CLI summary)."""
        from fhir_owl_spark.plans.lineage import read_triples

        self.reps += 1
        out = os.path.join(self.work, "out", f"rep{self.reps}")
        summary = self.cli_main(self.argv(out, self.corpus))
        n = read_triples(self.spark, out).count()
        if n != summary["triples"]:
            raise RuntimeError(f"read back {n} triples, CLI reported {summary['triples']}")
        return out, summary

    def expected(self):
        """(expected triples, predicate selecting the checked rows)."""
        wl = self.wl
        if self.name == "ontology_hpo18k":
            return wl.planted_expected(self.ont, self.cfg, self.planted), lambda t: True
        exp, convs = wl.qops_expected(self.spark, self.corpus, self.turns, self.ont, self.cfg)
        return exp, lambda t: t[1] != "mentions-in" or t[2] in convs

    def committed_rows(self, out: str) -> list[tuple]:
        from fhir_owl_spark.plans.lineage import read_triples

        df = read_triples(self.spark, out).select("subj", "pred", "obj")
        if self.name != "ontology_hpo18k":
            from pyspark.sql import functions as F

            convs = sorted(self.wl.sample_convs(self.turns))
            df = df.filter((F.col("pred") != "mentions-in") | F.col("obj").isin(convs))
        return [tuple(r) for r in df.toPandas().itertuples(index=False)]


# ---------------------------------------------------------------------------
# Timed loop
# ---------------------------------------------------------------------------


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU clock ticks used by it and its reaped children)."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:  # exited meanwhile
                continue
            f = stat[stat.rindex(")") + 2:].split()
            # ppid; utime, stime, cutime, cstime
            procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return procs


def _tree(pid: int, procs: dict[int, tuple[int, int]]) -> list[int]:
    """``pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(p)
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo += children.get(p, [])
    return tree


def descendants(pid: int) -> list[int]:
    return _tree(pid, proc_table())[1:]


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by process ``pid`` and every process below
    it (for the driver JVM: its Python worker daemon and the workers),
    each counting its own time and that of its reaped children."""
    procs = proc_table()
    ticks = sum(procs[p][1] for p in _tree(pid, procs) if p in procs)
    return ticks / os.sysconf("SC_CLK_TCK")


# One process per core runs this loop at once, each starting when its
# stdin closes, and prints the loop's time.
SPIN = """
import sys, time

def spin(n):
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t

sys.stdin.read()
print(spin(int(sys.argv[1])))
"""


def spin_on_every_core(n: int) -> float:
    """Median seconds of ``n`` loop iterations run on every core at once."""
    procs = [subprocess.Popen([sys.executable, "-c", SPIN, str(n)],
                              stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
             for _ in range(cores())]
    try:
        for p in procs:
            p.stdin.close()
        return statistics.median(float(p.stdout.read()) for p in procs)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
            p.stdout.close()


class HostReference:
    """Seconds a fixed pure-Python loop takes on every core at once: the
    host's current speed, measured while the program is idle.

    The host this runs on is shared: the same loop's time moves by 25%
    within seconds and the program's rep times by 35% between runs
    minutes apart, in every layer alike. Times are reported at a fixed
    reference speed (``scale``) so that such drift cancels.

    The program's processes (the driver JVM and every process below it)
    stay alive between reps, and CPU they spend after a rep (JIT, GC,
    cleaners, worker churn) would slow the loop and so lower the reported
    times. A sample is therefore taken only once the program has gone
    idle, and dropped when the program used CPU while it ran."""

    LOOPS = 12_000_000  # long enough to average the host's second-to-second jitter
    NOMINAL_S = 0.56  # the loop's time on an idle 4-core host of this kind
    # The program counts as idle while it uses at most this share of the
    # host's CPU (cores x wall time): one 10 ms clock tick in a 0.3 s
    # window on 4 cores. After a rep it spends 0.05-0.15 s in the first
    # 0.25 s, then about one tick every 2.5 s.
    IDLE_SHARE = 0.01
    IDLE_WINDOW_S = 0.3
    MAX_WAIT_S = 20.0

    def __init__(self, program_pid: int):
        self.pid = program_pid
        self.samples: list[float] = []
        self.dropped = 0
        self.waited_s = 0.0

    def wait_idle(self, deadline: float) -> None:
        """Return once the program was idle for an IDLE_WINDOW_S window,
        or at ``deadline``."""
        t = time.perf_counter()
        c = tree_cpu_s(self.pid)
        while time.perf_counter() < deadline:
            time.sleep(self.IDLE_WINDOW_S)
            now = tree_cpu_s(self.pid)
            used, c = now - c, now
            if used <= self.IDLE_SHARE * cores() * self.IDLE_WINDOW_S:
                break
        self.waited_s += time.perf_counter() - t

    def sample(self) -> None:
        """Add one sample during which the program stayed idle; give up
        after MAX_WAIT_S (``scale`` then rests on the other samples)."""
        deadline = time.perf_counter() + self.MAX_WAIT_S
        while time.perf_counter() < deadline:
            self.wait_idle(deadline)
            c = tree_cpu_s(self.pid)
            loop_s = spin_on_every_core(self.LOOPS)
            if tree_cpu_s(self.pid) - c <= self.IDLE_SHARE * cores() * loop_s:
                self.samples.append(loop_s)
                return
            self.dropped += 1

    def scale(self) -> float:
        """Factor from wall seconds now to seconds at the nominal speed."""
        if not self.samples:
            raise RuntimeError("the program never went idle for a host-speed sample")
        return self.NOMINAL_S / statistics.median(self.samples)


def timed_rep(wk: Workload, tracer=None):
    """Run one rep under a deadline. Returns (seconds, out, summary) or
    None when it raised or ran over the deadline."""
    timer = threading.Timer(REP_DEADLINE_S, wk.spark.sparkContext.cancelAllJobs)
    timer.start()
    t = time.perf_counter()
    try:
        if tracer is None:
            out, summary = wk.rep()
        else:
            n_spans = len(tracer.spans)
            tracer.install()
            try:
                with tracer.span("cli"):
                    out, summary = wk.rep()
            except Exception:
                del tracer.spans[n_spans:]  # per-layer metrics cover good reps only
                raise
            finally:
                tracer.uninstall()
        return time.perf_counter() - t, out, summary
    except Exception as exc:  # a failed rep is counted, not fatal
        log(f"rep failed: {exc!r}"[:2000])
        return None
    finally:
        timer.cancel()


class Measurement:
    """Set-up, timed reps and output checks of one workload in a running
    session. With ``trace``, reps alternate untraced and traced; the
    per-layer metrics are computed once the session has stopped and its
    event log is complete (``layer_metrics``)."""

    def __init__(self, spark, work, name, seed, seconds, size, trace, t_start):
        import workloads as wl
        from spans import Tracer

        t = time.perf_counter()
        wk = Workload(name, spark, os.path.join(work, name), seed, size)
        t_inputs = time.perf_counter()
        wk.warm_up()
        self.setup_s = time.perf_counter() - t_start
        log(f"{name}: inputs {t_inputs - t:.1f}s, warm-up "
            f"{time.perf_counter() - t_inputs:.1f}s, setup {self.setup_s:.1f}s")
        self.wk = wk
        self.tracer = Tracer(spark.sparkContext) if trace else None
        self.reps = []  # (seconds or None, out, summary, traced)
        # Reps run while the next one is expected to end within
        # ``seconds`` at the reference host speed (judged by the mean rep
        # so far), and at least MIN_REPS run. Counting time at the
        # reference speed keeps the number of reps, and so how warm the
        # JVM is in the reps the median picks, the same on a slow host:
        # the first reps of a session run up to 25% slower than later
        # ones. With ``trace`` they alternate untraced and traced.
        self.ref = HostReference(spark.sparkContext._gateway.proc.pid)
        t0 = time.perf_counter()
        while True:
            self.ref.sample()
            traced = trace and len(self.reps) % 2 == 1
            res = timed_rep(wk, self.tracer if traced else None)
            self.reps.append((*(res or (None, None, None)), traced))
            log(f"{name}: rep {len(self.reps)} {'traced ' if traced else ''}"
                f"{res[0] if res else float('nan'):.2f}s")
            elapsed = (time.perf_counter() - t0) * self.ref.scale()
            if len(self.reps) >= MIN_REPS and elapsed * (1 + 1 / len(self.reps)) > seconds:
                break
        log(f"{name}: host reference {len(self.ref.samples)} samples taken with the "
            f"program idle ({', '.join(f'{x:.3f}s' for x in self.ref.samples)}), "
            f"{self.ref.dropped} dropped as it was busy, "
            f"{self.ref.waited_s:.1f}s waited for idle")
        expected, in_scope = wk.expected()
        self.precision = self.recall = 1.0
        for secs, out, _summary, _traced in self.reps:
            if secs is not None:
                p, r = wl.score(wk.committed_rows(out), expected, in_scope)
                self.precision, self.recall = min(self.precision, p), min(self.recall, r)
        log(f"{name}: checked {len(self.reps)} outputs, precision {self.precision}, "
            f"recall {self.recall}")
        self.ok = [r for r in self.reps if r[0] is not None]
        self.failed = len(self.reps) - len(self.ok)
        self.counters = None
        if trace and self.ok:
            import spans

            self.counters = spans.output_counters(wk, [r for r in self.ok if r[3]])
            self.peak_rss_mb = jvm_peak_rss_mb(spark)

    def result(self) -> dict:
        return {
            "correct": self.failed == 0 and self.precision == 1.0 and self.recall == 1.0,
            "attempted": len(self.reps),
            "failed": self.failed,
        }

    def end_to_end(self) -> dict:
        """End-to-end metrics; call while the session is running."""
        if not self.ok:
            return {}
        wall_s = statistics.median(r[0] for r in self.ok)
        job_s = wall_s * self.ref.scale()
        log(f"{self.wk.name}: unscaled job_s {wall_s:.4f}s, setup_s {self.setup_s:.4f}s, "
            f"host reference {statistics.median(self.ref.samples):.4f}s")
        return {
            "job_s": (job_s, "s"),
            "turns_per_s": (self.wk.turns / job_s, "1/s"),
            "setup_s": (self.setup_s * self.ref.scale(), "s"),
            "precision": (self.precision, "ratio"),
            "recall": (self.recall, "ratio"),
        }

    def layer_metrics(self, log_dir: str, session_s: float) -> dict:
        """Per-layer metrics; call after the session has stopped."""
        import spans

        if not self.ok:
            return {}
        out = spans.per_layer(self.tracer, log_dir, self.ok, self.wk, session_s,
                              self.counters)
        out["driver.peak_rss_mb"] = (self.peak_rss_mb, "MB")
        out["host.ref_s"] = (statistics.median(self.ref.samples), "s")
        out["wall.job_s"] = (statistics.median(r[0] for r in self.ok), "s")
        out["wall.setup_s"] = (self.setup_s, "s")
        return out


def as_json(result: dict, metrics: dict) -> dict:
    return {**result,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def run(args, work: str) -> dict:
    import workloads as wl

    spark, session_s = start_session(work, trace=bool(args.trace))
    try:
        m = Measurement(spark, work, args.workload, args.seed, args.seconds,
                        wl.SIZES["full"], bool(args.trace), T_START)
        metrics = {} if args.trace else m.end_to_end()
    finally:
        stop_session(spark)
    if args.trace:
        metrics = m.layer_metrics(os.path.join(work, "events"), session_s)
    return as_json(m.result(), metrics)


def smoke(work: str) -> int:
    """Every workload at toy size in one traced session (one untraced and
    one traced rep each), then the self-tests."""
    import selftest
    import workloads as wl

    t = time.perf_counter()
    spark, session_s = start_session(work, trace=True)
    runs = {}
    try:
        for name in WORKLOADS:
            runs[name] = Measurement(spark, work, name, 7, 0.0, wl.SIZES["toy"], True,
                                     time.perf_counter())
            runs[name].e2e = runs[name].end_to_end()
        ok = selftest.run(spark, os.path.join(work, "selftest"))
    finally:
        stop_session(spark)
    for name, m in runs.items():
        layer = m.layer_metrics(os.path.join(work, "events"), session_s)
        good = m.result()["correct"] and bool(layer)
        ok &= good
        brief = {k: round(v[0], 3) for k, v in {**m.e2e, **layer}.items()
                 if k in ("job_s", "precision", "recall", "trace.coverage",
                          "trace.overhead")}
        print(f"smoke {name}: {'ok' if good else 'FAILED'} {brief}")
    print(f"smoke: {'ok' if ok else 'FAILED'} in {time.perf_counter() - t:.0f}s")
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    require_program()
    become_subreaper()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    prepare_env(work)
    try:
        if args.smoke:
            return smoke(work)
        result = run(args, work)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
