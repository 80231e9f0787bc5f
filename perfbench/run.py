"""Repository benchmark: one workload, one seed, one JSON result line.

Usage (from the checkout root):
    python3 perfbench/run.py --workload floor --seed 1 --seconds 20 --trace 0

One process, one client, closed loop. The process pins the environment
in ``spec.json``, creates the session (``setup_s``), then makes passes
over the workload's keys until ``--seconds`` have passed and at least
``min_passes`` passes ran: pass 1 is cold, pass 2 a warm-up, and the
warm metrics come from pass 3 on. The bounded time metrics are CPU
seconds of the whole process tree, which exclude time the hypervisor
steals; wall times are printed beside them. Each pass reads a fresh path of symlinks to
the fixture tables, so every per-path memo, snapshot and file listing
starts cold, and runs the keys in a seed-given order. Each query is
built, planned, and then its row count and an order-insensitive hash
over all output columns are computed inside Spark and compared with
``expected.json``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
program's layer functions (``layers.py``), alternates traced and
untraced passes, prints the per-layer metrics and the tracing overhead,
and writes its spans to ``perfbench/_work/trace-<workload>-<seed>.json``.

Host diagnostics (the ``q_scan_parquet`` canary at the start and end,
CPU steal share, load average) are printed beside the metrics and gate
nothing. The last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WAREHOUSE = os.path.join(ROOT, "spark-warehouse")
CANARY = "q_scan_parquet"
# Pass 1 is the cold pass. Pass 2 still compiles and varies most from
# run to run, so the warm metrics come from pass 3 on.
FIRST_WARM = 2  # index into Runner.passes


def load_json(name: str) -> dict:
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def pin_env(spec: dict) -> None:
    """Environment recorded in spec.json; must be set before the JVM starts."""
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = spec["env"]["SPARK_DRIVER_MEM"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        [os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}",
         f"-Xms{spec['env']['SPARK_DRIVER_MEM']}", *spec["jvm_opts"]]
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def ensure_fixture(spec: dict) -> str:
    sys.path.insert(0, HERE)
    import datagen

    return datagen.ensure_fixture(
        os.path.join(WORK, f"fixture-sf{spec['sf']}-d{spec['data_seed']}"),
        spec["sf"], spec["data_seed"],
    )


def du_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except FileNotFoundError:
                pass
    return total


def descendants(pid: int) -> list[int]:
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
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_hwm_mb() -> float:
    """VmHWM summed over this process and its descendants (JVM, Python
    workers)."""
    kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def tree_cpu_s() -> float:
    """CPU seconds used by this process and its descendants, including
    exited children their parents have reaped (utime+stime+cutime+cstime).
    Time the hypervisor steals from the VM is not in it."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def fresh_path(fixture: str, tag: str) -> str:
    d = os.path.join(WORK, "passes", tag)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for f in os.listdir(fixture):
        if f.endswith(".parquet"):
            os.symlink(os.path.join(fixture, f), os.path.join(d, f))
    return d


def drop_path(tag: str) -> int:
    """Delete a pass's path and the warehouse directories its memos,
    snapshots and sinks left; returns how many of the latter there were."""
    shutil.rmtree(os.path.join(WORK, "passes", tag), ignore_errors=True)
    dirs = glob.glob(os.path.join(WAREHOUSE, "*", f"*{tag}_*"))
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    return len(dirs)


@contextlib.contextmanager
def phase(tr, name: str):
    """A span on the query's thread that also parents spans opened on
    worker threads (the CV fan-out) while it is open."""
    if tr is None:
        yield None
        return
    span = tr.open(name)
    prev, tr.root = tr.root, span.id
    try:
        yield span.id
    finally:
        tr.close(span)
        tr.root = prev


def fingerprint_df(df):
    """Row count and an order-insensitive hash over all output columns,
    computed inside Spark (the hash is summed in two 32-bit halves so
    the sums cannot overflow)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("lo"),
        F.sum(F.shiftright("h", 32)).alias("hi"),
    )


def fingerprint_of(row) -> dict:
    return {"rows": row["n"], "hash": f"{row['lo'] or 0}:{row['hi'] or 0}"}


class Runner:
    def __init__(self, args, spec: dict, expected: dict, fixture: str):
        self.args, self.spec, self.expected, self.fixture = args, spec, expected, fixture
        self.keys = spec["workloads"][args.workload]["keys"]
        self.tracer = self.reader = None
        self.setup: dict[str, float] = {}
        self.passes: list[dict] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.rss_mb = 0.0

    # -- set-up ------------------------------------------------------
    def start(self) -> None:
        t0 = time.perf_counter()
        from spark_sklearn_spark.session import createLocalSparkSession

        self.spark = createLocalSparkSession(f"perfbench-{self.args.workload}")
        t1 = time.perf_counter()
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        if self.args.trace:
            import layers

            self.tracer = layers.Tracer()
            self.wrapped = layers.install(self.tracer)
        from spark_sklearn_spark import registry

        registry.load_all()
        if self.args.trace:
            self.rebound = layers.rebind(self.wrapped)
        t3 = time.perf_counter()
        self.queries = registry.QUERIES
        missing = [k for k in self.keys + [CANARY] if k not in self.queries]
        if missing:
            raise KeyError(f"keys not registered: {missing}")
        self.setup = {
            "setup_s": t3 - t0,
            "session.create_s": t1 - t0,
            "session.warm_s": t2 - t1,
            "registry.import_s": t3 - t2,
        }
        if self.args.trace:
            self.reader = layers.JobReader(self.spark)

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

    # -- measuring ---------------------------------------------------
    def canary(self, tag: str) -> float:
        path = fresh_path(self.fixture, tag)
        t0 = time.perf_counter()
        self.queries[CANARY](self.spark, path).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        drop_path(tag)
        return wall

    def run_query(self, key: str, path: str, traced: bool) -> dict:
        tr = self.tracer if traced else None
        rec = {"key": key, "ok": False}
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with phase(tr, "query") as root:
                rec["span"] = root
                with phase(tr, "build"):
                    df = self.queries[key](self.spark, path)
                with phase(tr, "plan"):
                    fp = fingerprint_df(df)
                    fp._jdf.queryExecution().executedPlan()
                with phase(tr, "action"):
                    row = fp.collect()[0]
            rec["wall"] = time.perf_counter() - t0
            rec["cpu"] = tree_cpu_s() - cpu0
            got = fingerprint_of(row)
            want = self.expected.get(key)
            if want is None:
                self.errors.append(f"{key}: no expected fingerprint")
            elif got["rows"] != want["rows"] or (
                want["check"] == "hash" and got["hash"] != want["hash"]
            ):
                self.errors.append(f"{key}: got {got}, expected {want}")
            else:
                rec["ok"] = True
        except Exception as ex:  # a failing query counts; the run goes on
            self.errors.append(f"{key}: {type(ex).__name__}: {str(ex)[:300]}")
        finally:
            self.spark.catalog.clearCache()
        self.attempted += 1
        self.failed += not rec["ok"]
        if tr:
            rec["jobs"] = self.reader.read_new()
        return rec

    def run_pass(self, p: int, traced: bool) -> dict:
        tag = f"s{self.args.seed}p{p}"
        path = fresh_path(self.fixture, tag)
        order = list(self.keys)
        random.Random(f"{self.args.seed}:{p}").shuffle(order)
        before = du_bytes(WAREHOUSE)
        if traced:
            self.reader.skip_existing()  # jobs of earlier, untraced work
            self.tracer.enabled = True
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        recs = [self.run_query(k, path, traced) for k in order]
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        if self.tracer:
            self.tracer.enabled = False
        warehouse_mb = (du_bytes(WAREHOUSE) - before) / 2**20
        self.rss_mb = max(self.rss_mb, tree_hwm_mb())
        dirs = drop_path(tag)
        return {"pass": p, "traced": traced, "wall": wall, "cpu": cpu, "queries": recs,
                "warehouse_mb": warehouse_mb, "snapshot_dirs": dirs}

    def measure(self) -> None:
        traced_mode = bool(self.args.trace)
        min_passes = self.spec["min_passes_traced" if traced_mode else "min_passes"]
        t0 = time.perf_counter()
        p = 0
        while p < min_passes or time.perf_counter() - t0 < self.args.seconds:
            p += 1
            # traced runs alternate: odd passes traced, even untraced
            traced = traced_mode and p % 2 == 1
            self.passes.append(self.run_pass(p, traced))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def wall_metrics(r: Runner) -> dict:
    """Wall-clock figures; printed beside the metrics and reported by
    the traced run, but not bounded: on a VM whose CPU steal moves
    between 0% and 15% they spread 20-33% across runs."""
    warm = [p for p in r.passes[FIRST_WARM:] if not p["traced"]]
    return {
        "wall.first_pass_s": r.passes[0]["wall"],
        "wall.pass_s": median([p["wall"] for p in warm]),
        "wall.query_p50_s": median([q["wall"] for p in warm for q in p["queries"] if q["ok"]]),
    }


def e2e_metrics(r: Runner) -> tuple[dict, dict]:
    """CPU seconds the process tree (driver, JVM, Python workers) spends,
    which is what the queries cost and excludes time stolen from the VM."""
    warm = [p for p in r.passes[FIRST_WARM:] if not p["traced"]]
    cpus = [q["cpu"] for p in warm for q in p["queries"] if q["ok"]]
    m = {
        "setup_s": (r.setup["setup_s"], "s"),
        "first_pass_cpu_s": (r.passes[0]["cpu"], "s"),
        "pass_cpu_s": (median([p["cpu"] for p in warm]), "s"),
        "peak_rss_mb": (r.rss_mb, "MB"),
    }
    info = {"warm_passes": len(warm), "query_samples": len(cpus),
            "query_p50_cpu_s": median(cpus)}
    return m, info


def layer_metrics(r: Runner, names: list[str]) -> tuple[dict, list[str]]:
    import layers

    tr = r.tracer
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spans = tr.spans
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def phase_of(s):
        while s.parent is not None and spans[s.parent].name != "query":
            s = spans[s.parent]
        return s.name

    def per_pass(p: dict) -> dict:
        v: dict[str, float] = {}

        def add(k, x):
            v[k] = v.get(k, 0.0) + x

        qspans = []
        jobs = []
        for q in p["queries"]:
            if "span" not in q:
                continue
            root = spans[q["span"]]
            sub = [root]
            i = 0
            while i < len(sub):
                sub.extend(children.get(sub[i].id, []))
                i += 1
            layers.attribute(q["jobs"], sub)
            qspans += sub
            jobs += q["jobs"]
        by_span: dict[int, list] = {}
        for j in jobs:
            by_span.setdefault(j.span, []).append(j)
        phase_wall = {"build": 0.0, "plan": 0.0, "action": 0.0}
        for s in qspans:
            if s.name in phase_wall and s.depth == 1:
                phase_wall[s.name] += s.end - s.start
                continue
            if s.depth < 2:
                continue
            n = s.name
            st = layers.self_time(s, children.get(s.id, []))
            if n.startswith(("operators.", "multimodal.")):
                add(f"{n}.calls", 1)
                add(f"{n}_s", st)
            elif n.startswith("streaming."):
                add("streaming.calls", 1)
                add("streaming_s", st)
                add("streaming.jobs", len(by_span.get(s.id, [])))
            elif n in ("io.load", "io.write", "ml_api.fit"):
                add(f"{n}.calls", 1)
                add(f"{n}_s", st)
                add(f"{n}.jobs", len(by_span.get(s.id, [])))
                if n == "ml_api.fit":
                    v["ml_api.fit.job_overlap"] = max(
                        v.get("ml_api.fit.job_overlap", 0),
                        layers.max_overlap(by_span.get(s.id, [])),
                    )
            elif n == "ml_api.transform":
                add(f"{n}_s", st)
        v["queries.build_s"] = phase_wall["build"]
        v["plan_s"] = phase_wall["plan"]
        v["exec_s"] = phase_wall["action"]
        for ph in ("build", "action"):
            pj = [j for j in jobs if j.span is not None and phase_of(spans[j.span]) == ph]
            tasks = sum(j.tasks for j in pj)
            run_s = sum(j.run_s for j in pj)
            pre = f"exec.{ph}."
            v[pre + "jobs"] = len(pj)
            v[pre + "stages"] = sum(j.stages for j in pj)
            v[pre + "tasks"] = tasks
            v[pre + "run_s"] = run_s
            for k in ("cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
                v[pre + k] = sum(getattr(j, k) for j in pj)
            wall = phase_wall[ph]
            v[pre + "core_util"] = run_s / (wall * cores) if wall else 0.0
            v[pre + "failed_task_ratio"] = (
                sum(j.failed_tasks for j in pj) / tasks if tasks else 0.0
            )
        v["queries.build_jobs"] = v["exec.build.jobs"]
        v["io.snapshot.dirs"] = p["snapshot_dirs"]
        v["io.warehouse_mb"] = p["warehouse_mb"]
        return v

    first = per_pass(r.passes[0])
    warm = [per_pass(p) for p in r.passes[FIRST_WARM:] if p["traced"]]
    walls_e2e = wall_metrics(r)
    out = {}
    for n in names:
        if n.startswith("wall."):
            out[n] = walls_e2e[n]
        elif n.startswith("pass1."):
            out[n] = first.get(n[len("pass1."):], 0.0)
        elif n in r.setup:
            out[n] = r.setup[n]
        else:
            out[n] = statistics.fmean(w.get(n, 0.0) for w in warm)
    # overhead: each traced warm pass against the mean of the untraced
    # passes on either side, which cancels a steady JIT warm-up trend
    walls = [p["wall"] for p in r.passes]
    diffs = [walls[i] - (walls[i - 1] + walls[i + 1]) / 2
             for i in range(FIRST_WARM + 1, len(walls) - 1) if r.passes[i]["traced"]]
    out["trace.pass_s"] = median([p["wall"] for p in r.passes[FIRST_WARM:] if p["traced"]])
    out["trace.overhead_s"] = median(diffs)
    fired = sorted({s.name for s in spans if s.depth >= 2})
    return out, fired


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = load_json("spec.json")
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "spark_sklearn_spark")):
        print("spark_sklearn_spark not found beside perfbench/", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    pin_env(spec)
    fixture = ensure_fixture(spec)
    expected = load_json("expected.json")
    runner = Runner(args, spec, expected, fixture)
    steal0, total0 = cpu_times()
    load0 = os.getloadavg()[0]
    try:
        runner.start()
        canary0 = runner.canary(f"s{args.seed}c0")
        runner.measure()
        canary1 = runner.canary(f"s{args.seed}c1")
    except Exception:
        traceback.print_exc()
        runner.stop()
        return 1
    steal1, total1 = cpu_times()
    load1 = os.getloadavg()[0]

    if args.trace:
        names = [m["name"] for m in bench["per_layer"]]
        values, fired = layer_metrics(runner, [n for n in names if not n.startswith("trace.")])
        runner.tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
        print(f"# layers fired: {', '.join(fired)}")
        missing = set(spec["workloads"][args.workload]["expect_layers"]) - set(fired)
        print(f"# layers expected but not fired: {', '.join(sorted(missing)) or 'none'}")
        print(f"# references rebound after import: {runner.rebound}")
    else:
        values, info = e2e_metrics(runner)
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in values.items()}
        print(f"# samples: {info['warm_passes']} warm passes, "
              f"{info['query_samples']} warm queries")
        for n, v in [*wall_metrics(runner).items(), ("query_p50_cpu_s", info["query_p50_cpu_s"])]:
            print(f"# {n} = {v:.6g} s (not bounded)")
    runner.stop()
    shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)

    for e in runner.errors:
        print(f"# FAIL {e}", file=sys.stderr)
    for key in runner.keys:
        walls = [[round(q["wall"], 3) for q in p["queries"] if q["key"] == key and q["ok"]]
                 for p in runner.passes]
        print(f"# {key}: walls per pass {walls}")
    print(f"# passes: {[round(p['wall'], 3) for p in runner.passes]}"
          f" traced: {[p['traced'] for p in runner.passes]}")
    print(f"# fail_ratio: {runner.failed}/{runner.attempted} = "
          f"{runner.failed / runner.attempted:.4f}")
    print(f"# host: canary_start_s={canary0:.3f} canary_end_s={canary1:.3f} "
          f"steal={(steal1 - steal0) / max(1, total1 - total0):.4f} "
          f"load1={load0:.2f}->{load1:.2f} cpus={os.environ['SPARK_GRAFT_CPUS']}")
    for n, m in metrics.items():
        print(f"# {n} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
