"""Benchmark entry point.

    python3 perfbench/run.py --workload cf_netflix --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

One run is one fresh process: it generates the seed's inputs if they are
not there yet (outside the set-up time), builds the Spark session, loads
every table, then runs the workload's key list for a fixed number of
passes. Each key is ``registry.QUERIES[key](spark, sf_dir)`` followed by
an action that computes an order-insensitive digest of every output
column inside Spark. Every execution is checked against a per-seed
reference, accepted only after the key's rows matched its DuckDB oracle.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. ``--workload all`` runs every workload untraced and traced
in fresh processes and prints every metric with its unit, plus the
tracing overhead.

Everything a run writes goes under ``.perfbench_work/`` in the checkout;
``results.jsonl`` there keeps every run's result and pass times.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import bisect  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "npc_recommender_netflix_spark."
# Heap of the local-mode JVM: fits a 15 GB, 4-core machine with room for
# the PySpark Python workers (the engine's 16g default does not).
DRIVER_MEM = "3g"
# Stage metrics summed per layer; the rest are derived below.
STAGE_SUMS = ("task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
              "output_mb", "tasks", "failed_tasks")

sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import probes  # noqa: E402
from outputs import References, digest, oracle_problems  # noqa: E402
from workloads import WORKLOADS, pass_count  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _configure(run_dir: str) -> None:
    """Steadiness settings and scratch locations, set before Spark starts:
    task slots = the CPUs this process may use, a fixed heap, and every
    temporary file (the engine's round-trip and streaming scratch, Spark's
    local dirs) inside the run's directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _ensure_inputs(seed: int) -> tuple[str, float]:
    """The seed's input directory and the seconds spent generating it."""
    data_dir = os.path.join(WORK, "inputs", f"seed_{seed}")
    if os.path.isdir(data_dir):
        return data_dir, 0.0
    t0 = time.perf_counter()
    partial = f"{data_dir}.partial{os.getpid()}"
    gen.generate(seed, partial)
    os.replace(partial, data_dir)
    return data_dir, time.perf_counter() - t0


def _aliases(run_dir: str, data_dir: str, workload, passes: int) -> list[list[str]]:
    """sf_dir to pass to each (pass, key). Every alias is a symlink to the
    seed's inputs. The engine's memos are keyed by sf_dir and unpersist an
    entry whose sf_dir changed, so a new alias throws away what the previous
    pass (or key) cached."""
    out = []
    for p in range(passes):
        row = []
        for i in range(len(workload.keys)):
            name = f"p{p}" if workload.clear == "pass" else f"p{p}k{i}"
            path = os.path.join(run_dir, "sf", name)
            if not os.path.islink(path):
                os.makedirs(os.path.dirname(path), exist_ok=True)
                os.symlink(data_dir, path)
            row.append(path)
        out.append(row)
    return out


def count_failed(outcomes, refs: References) -> int:
    """Executions that raised or whose output differs from the reference."""
    return sum(1 for key, rows, dig in outcomes
               if rows is None or not refs.matches(key, rows, dig))


class Run:
    """One workload run in this process."""

    def __init__(self, workload, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.passes = pass_count(seconds)
        self.run_id = f"{workload.name}-s{seed}-{os.getpid()}"
        self.run_dir = os.path.join(WORK, "runs", self.run_id)
        self.tracer = probes.Tracer(self.run_id, trace)
        self.outcomes: list[tuple[str, int | None, str | None]] = []
        # key -> (DataFrame, rows, digest) of its last execution that did
        # not raise
        self.last_ok: dict[str, tuple] = {}
        self.spark = None

    def setup(self) -> None:
        _configure(self.run_dir)
        sys.path.insert(0, ROOT)
        from npc_recommender_netflix_spark import registry, session

        registry.load_all()
        self.registry, self.session = registry, session
        self.data_dir, gen_s = _ensure_inputs(self.seed)
        with self.tracer.span("session.build", layer="session", kind="build"):
            self.spark = session.build_session(
                app=self.run_id,
                extra_conf={
                    # keep every stage and job, as bench.py does, so that
                    # none is evicted before its metrics are read
                    "spark.ui.retainedStages": "100000",
                    "spark.ui.retainedJobs": "100000",
                    "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                },
            )
        with self.tracer.span("session.load_table", layer="session", kind="load_table"):
            frames = [session.load_table(self.spark, self.data_dir, t)
                      for t in session.TABLES]
            frames[0].count()  # the first action
        self.setup_s = time.perf_counter() - T_START - gen_s
        self.jvm = self.spark.sparkContext._gateway.proc
        # CPU of the JVM's Python workers, read at every span boundary
        self.tracer.counter = lambda: probes.children_cpu_s(self.jvm.pid)

    def timed_passes(self) -> None:
        import bench  # the repo's shuffle-bytes and listener-bus helpers

        spark, me = self.spark, os.getpid()
        aliases = _aliases(self.run_dir, self.data_dir, self.workload, self.passes)
        bench._drain_listeners(spark)
        shuffle0 = bench._shuffle_written(spark)
        cpu0 = probes.tree_cpu_s(me)
        self.pass_times = []
        for p in range(self.passes):
            t0 = time.perf_counter()
            self.run_pass(p, aliases[p])
            self.pass_times.append(time.perf_counter() - t0)
        self.cpu_s = (probes.tree_cpu_s(me) - cpu0) / self.passes
        self.pass_s = sum(self.pass_times) / self.passes
        bench._drain_listeners(spark)
        self.shuffle_mb = (bench._shuffle_written(spark) - shuffle0) / 1e6 / self.passes
        self.peak_rss_mb = probes.vm_hwm_mb(me) + probes.vm_hwm_mb(self.jvm.pid)

    def run_pass(self, p: int, sf_dirs: list[str]) -> None:
        """Run every key once. A key that raises is recorded as an outcome
        without rows, and the pass goes on."""
        spark, tracer, w = self.spark, self.tracer, self.workload
        with tracer.span(f"pass{p}", kind="pass"):
            for key, sf_dir in zip(w.keys, sf_dirs):
                fn = self.registry.QUERIES[key]
                layer = fn.__module__.removeprefix(PACKAGE)
                rows = dig = None
                with tracer.span(key, layer=layer, kind="key"):
                    try:
                        with tracer.span(f"{key}.call", layer=layer, kind="call"):
                            df = fn(spark, sf_dir)
                        with tracer.span(f"{key}.action", layer=layer, kind="action"):
                            rows, dig = digest(df)
                        self.last_ok[key] = (df, rows, dig)
                    except Exception:
                        print(f"[{key}] pass {p} raised:", file=sys.stderr)
                        traceback.print_exc(file=sys.stderr)
                self.outcomes.append((key, rows, dig))
                if w.clear == "key":
                    spark.catalog.clearCache()
            if w.clear == "pass":
                spark.catalog.clearCache()

    def verify(self) -> References:
        """Record a reference for every key this seed has none for yet.
        For a key with a DuckDB oracle, the DataFrame of its last timed
        execution is collected once more (its call is not repeated); the
        reference is that execution's digest, accepted once the collected
        rows match the oracle, are not empty, and are as many as the
        digest counted. A key without an oracle is checked by row count
        only; its reference is the row count of its first timed execution,
        if that was not empty. Runs after the timed passes and counts in no
        metric."""
        import duckdb

        refs = References(self.data_dir)
        todo = refs.missing(self.workload.keys)
        for key in [k for k in todo if k not in self.registry.ORACLE]:
            todo.remove(key)
            rows = next((r for k, r, _ in self.outcomes if k == key), None)
            if rows:
                refs.add(key, rows, None)
            else:
                print(f"[{key}] no reference: first execution "
                      f"{'raised' if rows is None else 'was empty'}", file=sys.stderr)
        if not todo:
            refs.save()
            return refs
        con = duckdb.connect()
        for t in self.session.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data_dir}/{t}.parquet')")
        for key in todo:
            if key not in self.last_ok:
                print(f"[{key}] no reference: every execution raised", file=sys.stderr)
                continue
            df, rows, dig = self.last_ok[key]
            try:
                srows = df.collect()
                problems = oracle_problems(
                    con, self.registry.ORACLE[key], df.columns, srows)
                if rows == 0:
                    problems.append("empty output")
                if len(srows) != rows:
                    problems.append(f"collected {len(srows)} rows, digest counted {rows}")
                if problems:
                    print(f"[{key}] no reference: {problems}", file=sys.stderr)
                else:
                    refs.add(key, rows, dig)
            except Exception:
                print(f"[{key}] reference run raised:", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
            self.spark.catalog.clearCache()
        con.close()
        refs.save()
        return refs

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics of a traced run, per pass (session: per run).
        Stages and jobs are attributed to the call or action span during
        which they were submitted; the run is sequential, so that is the
        span that caused them."""
        spark = self.spark
        self.stages = probes.stage_rows(spark)
        leaves = sorted((s for s in self.tracer.spans
                         if s.get("kind") in ("call", "action")),
                        key=lambda s: s["start"])
        starts = [s["start"] for s in leaves]

        def leaf_of(t):
            # JVM times are whole milliseconds: allow that much slack
            i = bisect.bisect_right(starts, t + 0.002) - 1 if t else -1
            return leaves[i] if i >= 0 and t <= leaves[i]["end"] + 0.002 else None

        acc: dict[str, dict] = {}
        for s in leaves:
            a = acc.setdefault(s["layer"], dict.fromkeys(
                ("call_s", "action_s", "python_cpu_s", "stages",
                 "skipped_stages", *STAGE_SUMS), 0.0))
            a[f"{s['kind']}_s"] += s["end"] - s["start"]
            a["python_cpu_s"] += s["c1"] - s["c0"]
        worst: dict[str, dict] = {}
        for st in self.stages:
            leaf = leaf_of(st["submitted"])
            if leaf is None or st["status"] == "SKIPPED":
                continue
            st["span"] = leaf["id"]
            a = acc[leaf["layer"]]
            for k in STAGE_SUMS:
                a[k] += st[k]
            if st["run_s"] >= worst.get(leaf["layer"], {"run_s": -1.0})["run_s"]:
                worst[leaf["layer"]] = st
        for j in probes.job_rows(spark):
            leaf = leaf_of(j["submitted"])
            if leaf is not None:
                acc[leaf["layer"]]["stages"] += j["stages"]
                acc[leaf["layer"]]["skipped_stages"] += j["skipped_stages"]

        out = {f"session.{s['kind']}_s": s["end"] - s["start"]
               for s in self.tracer.spans if s.get("layer") == "session"}
        for name, a in acc.items():
            for k in ("call_s", "action_s", "python_cpu_s", *STAGE_SUMS):
                out[f"{name}.{k}"] = a[k] / self.passes
            out[f"{name}.stage_skip_ratio"] = (
                a["skipped_stages"] / a["stages"] if a["stages"] else 0.0)
            w = worst.get(name)
            out[f"{name}.task_skew"] = (
                probes.task_skew(spark, w["stage"], w["attempt"]) if w else 0.0)
        out["trace.pass_s"] = self.pass_s
        out["process.peak_rss_mb"] = self.peak_rss_mb
        return out

    def write_trace(self) -> str:
        path = os.path.join(WORK, "traces", f"{self.run_id}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.tracer.with_self_time(),
                       "stages": self.stages}, fh, indent=1)
        return path

    def stop(self) -> None:
        """Stop Spark and wait until every process this run started ended."""
        from pyspark import SparkContext

        pids = probes.descendants(os.getpid())
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        for pid in probes.wait_gone(pids, 30):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        probes.wait_gone(pids, 30)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def run_one(workload_name: str, seed: int, seconds: int, trace: bool) -> dict:
    spec = _spec()
    run = Run(WORKLOADS[workload_name], seed, seconds, trace)
    try:
        run.setup()
        run.timed_passes()
        refs = run.verify()
        if trace:
            values = run.layer_metrics()
            print(f"trace written to {run.write_trace()}", file=sys.stderr)
    finally:
        if run.spark is not None:
            run.stop()

    attempted, failed = len(run.outcomes), count_failed(run.outcomes, refs)
    if trace:
        metrics = spec["per_layer"]
    else:
        metrics = spec["end_to_end"]
        values = {
            "setup_s": run.setup_s,
            "pass_s": run.pass_s,
            "cpu_s": run.cpu_s,
            "shuffle_write_mb": run.shuffle_mb,
            "query_ok_ratio": (attempted - failed) / attempted,
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in metrics},
    }
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": workload_name, "seed": seed,
                             "trace": trace, "pass_times": run.pass_times,
                             **result}) + "\n")
    return result


def run_all(seed: int, seconds: int) -> int:
    """Every workload, untraced then traced, each in a fresh process; print
    every metric with its unit and the tracing overhead."""
    status = 0
    for name in WORKLOADS:
        results = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{name} trace={trace}: exit code {proc.returncode}")
                status = 1
                continue
            results[trace] = json.loads(lines[-1])
        for trace, res in sorted(results.items()):
            print(f"== {name} ({'traced' if trace else 'untraced'}): "
                  f"correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}")
            for k, m in res["metrics"].items():
                print(f"   {k:45s} {m['value']:14.4f} {m['unit']}")
            status |= 0 if res["correct"] else 1
        if len(results) == 2:
            overhead = (results[1]["metrics"]["trace.pass_s"]["value"]
                        - results[0]["metrics"]["pass_s"]["value"])
            print(f"   {'tracing overhead (traced - untraced pass_s)':45s} "
                  f"{overhead:14.4f} s")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
