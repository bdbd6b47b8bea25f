#!/usr/bin/env python3
"""spark-graft benchmark.

    python3 perfbench/run.py --workload sql_verify --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --workload all      # every workload, one table

Each workload is a closed loop: one client submits one query at a time to one
``local[<cores>]`` session in this process, and the next query starts when
the previous one has returned. A run

1. builds the session (``session.get_spark``), imports the query registry
   (``registry.collect``) and runs the workload's untimed warm-up passes;
   together these are ``setup_s``;
2. runs timed passes over the workload's queries, each in an order drawn
   from ``--seed``. The number of passes is the workload's pass count
   for a 24-second run, scaled by ``--seconds``, so every run takes the
   same samples;
3. checks every query's output outside the timed region (``check.py``);
4. prints the metrics, then one JSON line.

With ``--trace 1`` every second timed pass records spans around the calls
into each layer and reads Spark's status store by job group; the others run
untraced, and the difference of their wall times is the tracing overhead.
The JSON line then holds the per-layer metrics. Spans and
per-query rows go to ``.bench_build/perfbench/trace-<workload>-<seed>.json``.

Inputs are generated by ``fixtures.py`` into ``.bench_build/perfbench/data``
on first use, from a fixed data seed; ``--seed`` only permutes query order.
``--record`` rewrites ``expected.json``, the digests the ``digest`` check
compares against.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)
import measure  # noqa: E402


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    action: str          # "collect" or "noop"
    check: str           # "oracle" or "digest"
    passes: int          # timed passes in a run of RUN_SECONDS
    warmups: int         # untimed passes before the timed ones
    queries: tuple[str, ...]


#: reference-program steps (``reference_parity``) that ml_pipeline runs
#: beside the registered queries
REF_RF = "reference_parity.rf"
REF_GBT = "reference_parity.gbt"

WORKLOADS = {w.name: w for w in (
    Workload(
        "sql_verify", 0.01, "collect", "oracle", 3, 2,
        ("q_sql_tpch_q1", "q_sql_tpch_q3", "q_sql_tpch_q6", "q_sql_tpch_q12",
         "q_filter_predicate", "q_semi_join", "q_topk", "q_window_rank")),
    Workload(
        "heavy_tail", 0.01, "noop", "digest", 4, 2,
        ("q_embedding_neardup", "q_semantic_dedup", "q_nb_classify")),
    Workload(
        "ml_pipeline", 0.01, "collect", "digest", 2, 1,
        ("q_ml_features", "q_random_split", "q_rf_regression",
         "q_gbt_regression", "q_model_selection", "q_logreg_classify",
         "q_rmse", "q_flagship", "q_pivot", "q_l1_normalize",
         "q_ols_regression", REF_RF, REF_GBT)),
)}

#: the ``--seconds`` that ``Workload.passes`` is given for
RUN_SECONDS = 24

END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("queries_per_s", "1/s"),
              ("latency_p50_s", "s"), ("latency_tail_s", "s"))


# ------------------------------------------------------------ environment


def confine_outputs(log_path: str) -> None:
    """Keep every file the run writes inside the checkout, and send the
    JVM's and Python workers' output to a log file: stdout stays for the
    report, and the log is where codegen fallbacks are counted."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    sys.stdout.flush()
    sys.stderr.flush()
    out = os.fdopen(os.dup(1), "w", buffering=1)
    err = os.fdopen(os.dup(2), "w", buffering=1)
    log = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log, 1)
    os.dup2(log, 2)
    os.close(log)
    sys.stdout, sys.stderr = out, err


def session_log(name: str) -> str:
    """The session log of the last run of workload ``name``."""
    return os.path.join(BUILD, f"session-{name}.log")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and every process it
    started (Python workers) have exited."""
    from pyspark import SparkContext

    tree = measure.process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in tree:
        while measure.running(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


# ---------------------------------------------------------------- queries


@contextlib.contextmanager
def _no_span(name: str):
    yield


class Runner:
    """Runs one workload's queries in one session; with a tracer, records a
    ``query`` span per query with ``operators.build``, ``exec.action`` and
    ``cache.clear`` children and puts the build and the action in their own
    Spark job groups."""

    def __init__(self, spark, sf_dir: str, queries: dict) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = queries
        self.tracer: measure.Tracer | None = None
        self.store: measure.StatusStore | None = None

    def group_id(self, name: str, part: str) -> str:
        return f"perfbench:{self.tracer.pass_no}:{name}:{part}"

    def set_group(self, gid: str | None) -> None:
        self.spark.sparkContext.setLocalProperty(measure.JOB_GROUP, gid)

    def current_group(self) -> str | None:
        return self.spark.sparkContext.getLocalProperty(measure.JOB_GROUP)

    def run(self, name: str, action: str) -> dict:
        tr = self.tracer
        span = tr.span if tr else _no_span
        if tr:
            tr.query = name
        out = {"query": name}
        with span("query"):
            self._enter(name, "build")
            t0 = time.perf_counter()
            with span("operators.build"):
                built = self._build(name)
            t1 = time.perf_counter()
            self._enter(name, "action")
            with span("exec.action"):
                out["cols"], out["rows"] = self._act(name, built, action)
            t2 = time.perf_counter()
            if tr:
                self.set_group(None)
                out["leftover_rdds"] = self.store.persistent_rdds()
            with span("cache.clear"):
                self.spark.catalog.clearCache()
            t3 = time.perf_counter()
        out.update(build_s=t1 - t0, action_s=t2 - t1, latency_s=t2 - t0,
                   clear_s=t3 - t2)
        return out

    def _enter(self, name: str, part: str) -> None:
        if self.tracer:
            self.set_group(self.group_id(name, part))

    def _build(self, name: str):
        if name in (REF_RF, REF_GBT):
            from spark_ml_spark import reference_parity as rp
            csv_path, fam_path = rp.generate_fixture()
            return rp.build_site_vectors(self.spark, csv_path, fam_path)
        return self.queries[name](self.spark, self.sf_dir)

    def _act(self, name: str, built, action: str):
        if name in (REF_RF, REF_GBT):
            from spark_ml_spark import reference_parity as rp
            vecs, vocab = built
            algo = "rf" if name == REF_RF else "gbt"
            return ["label", "rmse"], [
                (label, rp.fit_and_eval(self.spark, vecs, vocab, label, algo))
                for label in ("SiteLat", "SiteLong")]
        if action == "noop":
            built.write.format("noop").mode("overwrite").save()
            return None, None
        return built.columns, [tuple(r) for r in built.collect()]

    def run_pass(self, order: list[str], action: str, after=None) -> tuple[float, list[dict]]:
        """Run ``order`` once; ``after(row)`` runs after each query and its
        time is left out of the pass's wall time."""
        rows, wall = [], 0.0
        for name in order:
            t0 = time.perf_counter()
            try:
                row = self.run(name, action)
            except Exception:  # noqa: BLE001 — a failing query is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                if self.tracer:
                    self.set_group(None)
                self.spark.catalog.clearCache()
                row = {"query": name, "error": True}
            wall += time.perf_counter() - t0
            if after:
                after(row)
            rows.append(row)
        return wall, rows


# ---------------------------------------------------------------- tracing


class LayerProbe:
    """The traced side of a run: wraps ``io.sources.load`` and
    ``sql_frontend.register_views`` everywhere they are bound, and after
    each query reads the status store, the JVM counters and the session
    log."""

    def __init__(self, runner: Runner, spark, log_path: str) -> None:
        from spark_ml_spark.io import sources
        from spark_ml_spark.operators import sql_frontend

        self.runner = runner
        self.tracer = measure.Tracer()
        self.tracer.active = False
        self.store = runner.store = measure.StatusStore(spark)
        self.counters = measure.JvmCounters(spark)
        self.log = measure.LogTail(log_path)
        self.read_s = 0.0
        package = {k: m for k, m in sys.modules.items()
                   if k.startswith("spark_ml_spark") and m is not None}

        def enter_load():
            prev = runner.current_group()
            runner.set_group(runner.group_id(self.tracer.query, "load"))
            return prev

        load = self.tracer.wrap("io.load", sources.load, enter_load, runner.set_group)
        views = self.tracer.wrap("sql_frontend.register_views",
                                 sql_frontend.register_views)
        measure.install_wrapper(package, sources.load, load)
        measure.install_wrapper(package, sql_frontend.register_views, views)

    def after_query(self, row: dict) -> None:
        t0 = time.perf_counter()
        self._after_query(row)
        self.read_s += time.perf_counter() - t0

    def _after_query(self, row: dict) -> None:
        self.store.drain()
        name = row["query"]
        parts = {p: self.store.group(self.runner.group_id(name, p))
                 for p in ("build", "load", "action")}
        total = measure.StageTotals()
        for t in parts.values():
            total.add(t)
        row.update(build_jobs=parts["build"].jobs + parts["load"].jobs,
                   load_jobs=parts["load"].jobs, jobs=total.jobs,
                   stages=total.stages, tasks=total.tasks, task_s=total.task_s,
                   gc_s=total.gc_s, shuffle_read_mb=total.shuffle_read_mb,
                   shuffle_write_mb=total.shuffle_write_mb,
                   spill_mb=total.spill_mb, fallbacks=self.log.fallbacks())

    def traced_pass(self, order: list[str], action: str, pass_no: int,
                    result_rows: int, n_cores: int) -> tuple[dict, list[dict]]:
        tr = self.tracer
        tr.pass_no = pass_no
        first = len(tr.spans)
        files0, comp0 = self.counters.files_listed(), self.counters.compiles()
        self.log.new_text()
        self.read_s = 0.0
        tr.active, self.runner.tracer = True, tr
        try:
            wall, rows = self.runner.run_pass(order, action, self.after_query)
        finally:
            tr.active, self.runner.tracer = False, None
        spans = tr.spans[first:]
        selfs = measure.self_times(tr.spans)[first:]
        by_name: dict[str, list[float]] = {}
        self_by_name: dict[str, float] = {}
        for s, st in zip(spans, selfs):
            by_name.setdefault(s.name, []).append(s.end - s.start)
            self_by_name[s.name] = self_by_name.get(s.name, 0.0) + st
        ok = [r for r in rows if not r.get("error")]
        task_s = sum(r["task_s"] for r in ok)
        build_s = sum(r["build_s"] for r in ok)
        layer = {
            "operators.build_s": build_s,
            "operators.build_share": build_s / wall,
            "operators.build_jobs": sum(r["build_jobs"] for r in ok),
            "operators.build_self_s": self_by_name.get("operators.build", 0.0),
            "io.load_calls": len(by_name.get("io.load", [])),
            "io.load_s": sum(by_name.get("io.load", [])),
            "io.load_jobs": sum(r["load_jobs"] for r in ok),
            "io.files_listed": self.counters.files_listed() - files0,
            "sql_frontend.register_views_calls": len(
                by_name.get("sql_frontend.register_views", [])),
            "sql_frontend.register_views_s": sum(
                by_name.get("sql_frontend.register_views", [])),
            "exec.action_s": sum(r["action_s"] for r in ok),
            "exec.jobs": sum(r["jobs"] for r in ok),
            "exec.stages": sum(r["stages"] for r in ok),
            "exec.tasks": sum(r["tasks"] for r in ok),
            "exec.task_s": task_s,
            "exec.busy_frac": measure.busy_frac(task_s, wall, n_cores),
            "exec.gc_s": sum(r["gc_s"] for r in ok),
            "exec.shuffle_read_mb": sum(r["shuffle_read_mb"] for r in ok),
            "exec.shuffle_write_mb": sum(r["shuffle_write_mb"] for r in ok),
            "exec.spill_mb": sum(r["spill_mb"] for r in ok),
            "exec.result_rows": result_rows,
            "codegen.compiles": self.counters.compiles() - comp0,
            "codegen.fallbacks": sum(r["fallbacks"] for r in ok),
            "cache.leftover_rdds": sum(r["leftover_rdds"] for r in ok),
            "cache.clear_s": sum(r["clear_s"] for r in ok),
            "query.self_s": self_by_name.get("query", 0.0),
            "trace.read_s": self.read_s,
        }
        return {"wall_s": wall, "layer": layer, "self_s": self_by_name}, rows


# ----------------------------------------------------------------- checks


def check_outputs(w: Workload, sf_dir: str, results: dict, oracles: dict,
                  tables: tuple[str, ...]) -> dict[str, str]:
    """Name -> reason, for every query whose output is wrong."""
    import check

    bad: dict[str, str] = {}
    missing = [n for n in w.queries if n not in results]
    for name in missing:
        bad[name] = "no result"
    present = [n for n in w.queries if n in results]
    if w.check == "oracle":
        oracle = check.Oracle(sf_dir, tables)
        try:
            for name in present:
                r = results[name]
                try:
                    why = oracle.compare(oracles[name], r["cols"], r["rows"])
                except Exception as ex:  # noqa: BLE001 — DuckDB error or timeout
                    why = f"oracle error: {ex}"
                if why:
                    bad[name] = why
        finally:
            oracle.close()
        return bad
    expected = check.load_expected()[w.name]
    for name in present:
        r = results[name]
        got = check.digest(r["cols"], r["rows"])
        if got != expected[name]["digest"]:
            bad[name] = f"digest {got} != expected {expected[name]['digest']}"
    return bad


# ---------------------------------------------------------------- one run


def n_passes(w: Workload, seconds: float) -> int:
    return max(2, round(w.passes * seconds / RUN_SECONDS))


def run_workload(w: Workload, seed: int, seconds: float, trace: bool) -> dict:
    confine_outputs(session_log(w.name))
    from spark_ml_spark import registry
    from spark_ml_spark.io.sources import TABLES
    from spark_ml_spark.session import get_spark

    import fixtures

    t = time.perf_counter()
    sf_dir = fixtures.ensure(os.path.join(BUILD, "data"), w.sf)
    data_s = time.perf_counter() - t

    n_cores = cores()
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=n_cores)
    get_spark_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        queries, oracles = registry.collect()
        collect_s = time.perf_counter() - t
        rng = random.Random(seed)
        runner = Runner(spark, sf_dir, queries)
        counters = measure.JvmCounters(spark)
        comp0 = counters.compiles()
        # warm-up: the first pass collects everything, so that a noop
        # workload is checked too
        _, warm = runner.run_pass(rng.sample(w.queries, len(w.queries)), "collect")
        for _ in range(w.warmups - 1):
            runner.run_pass(rng.sample(w.queries, len(w.queries)), w.action)
        warmup_compiles = counters.compiles() - comp0
        setup_s = time.perf_counter() - T0 - data_s

        results = {r["query"]: r for r in warm if not r.get("error")}
        result_rows = sum(len(r["rows"]) for r in results.values())
        walls, samples, done, attempted, failed = [], [], [], 0, 0
        layers, per_query = [], []
        probe = LayerProbe(runner, spark, session_log(w.name)) if trace else None
        with measure.RssSampler() as rss:
            for p in range(n_passes(w, seconds)):
                order = rng.sample(w.queries, len(w.queries))
                if trace and p % 2:
                    res, rows = probe.traced_pass(order, w.action, p, result_rows,
                                                  n_cores)
                    layers.append(res)
                    per_query.extend(dict(r, pass_no=p) for r in rows)
                    ok = [r for r in rows if not r.get("error")]
                else:
                    wall, rows = runner.run_pass(order, w.action)
                    ok = [r for r in rows if not r.get("error")]
                    walls.append(wall)
                    done.append(len(ok) / wall)
                    samples.extend(r["latency_s"] for r in ok)
                attempted += len(rows)
                failed += len(rows) - len(ok)
                if w.action == "collect":
                    results.update({r["query"]: r for r in ok})
        bad = check_outputs(w, sf_dir, results, oracles, TABLES)
        failed += len(bad)
    finally:
        stop_session(spark)

    report = {"workload": w.name, "seed": seed, "sf": w.sf, "cores": n_cores,
              "passes": n_passes(w, seconds), "queries": list(w.queries),
              "attempted": attempted, "failed": failed,
              "failed_frac": failed / attempted, "bad": bad,
              "pass_walls": walls,
              "data_s": data_s}
    if trace:
        # end-to-end numbers come from untraced runs; here the untraced
        # passes only give the base of the tracing overhead
        layer = {k: statistics.median([lp["layer"][k] for lp in layers])
                 for k in layers[0]["layer"]}
        layer["session.get_spark_s"] = get_spark_s
        layer["registry.collect_s"] = collect_s
        layer["codegen.warmup_compiles"] = warmup_compiles
        layer["memory.peak_rss_mb"] = rss.peak_mb
        layer["trace.overhead_s"] = (statistics.median([lp["wall_s"] for lp in layers])
                                     - statistics.median(walls))
        report["layer"] = layer
        report["self_s"] = {k: statistics.median([lp["self_s"].get(k, 0.0) for lp in layers])
                            for k in layers[0]["self_s"]}
        report["fallback_queries"] = sorted(
            {r["query"] for r in per_query if r.get("fallbacks")})
        write_trace(w, seed, report, per_query, probe.tracer.spans)
        return report
    tail_p, tail_v = measure.tail_percentile(samples)
    report["latency_samples"] = len(samples)
    report["tail_percentile"] = tail_p
    report["metrics"] = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "queries_per_s": statistics.median(done),
        "latency_p50_s": statistics.median(samples),
        "latency_tail_s": tail_v,
    }
    report["peak_rss_mb"] = rss.peak_mb
    return report


def write_trace(w: Workload, seed: int, report: dict, per_query: list[dict],
                spans: list) -> None:
    rows = [{k: v for k, v in r.items() if k not in ("cols", "rows")}
            for r in per_query]
    path = os.path.join(BUILD, f"trace-{w.name}-{seed}.json")
    with open(path, "w") as f:
        json.dump({"report": report, "per_query": rows,
                   "spans": [vars(s) for s in spans]}, f, indent=1, default=str)
    report["trace_file"] = os.path.relpath(path, ROOT)


# ------------------------------------------------------------------ output


def layer_metrics() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def print_report(report: dict, trace: bool) -> None:
    w = report["workload"]
    print(f"# {w}: sf{report['sf']:g}, {report['cores']} cores, seed "
          f"{report['seed']}, {report['passes']} timed passes of "
          f"{len(report['queries'])} queries")
    print(f"{w}  {'failed_frac':<16} {report['failed_frac']:>12.4f} "
          f"({report['failed']} of {report['attempted']})")
    for name, why in report["bad"].items():
        print(f"{w}  WRONG OUTPUT {name}: {why}")
    print(f"{w}  pass walls: "
          + " ".join(f"{x:.3f}" for x in report["pass_walls"]) + " s")
    if trace:
        for name, unit in layer_metrics():
            print(f"{w}  {name:<36} {report['layer'][name]:>12.4f} {unit}")
        print(f"{w}  self time per pass: " + ", ".join(
            f"{k} {v:.3f} s" for k, v in report["self_s"].items()))
        print(f"{w}  codegen fallbacks in: "
              f"{', '.join(report['fallback_queries']) or 'none'}")
        print(f"{w}  spans and per-query rows: {report['trace_file']}")
        return
    for name, unit in END_TO_END:
        print(f"{w}  {name:<16} {report['metrics'][name]:>12.4f} {unit}")
    print(f"{w}  latency_tail_s is p{report['tail_percentile']} of "
          f"{report['latency_samples']} samples")
    print(f"{w}  {'peak_rss_mb':<16} {report['peak_rss_mb']:>12.4f} MB "
          f"(per-layer memory.peak_rss_mb)")


def result_line(report: dict, trace: bool) -> str:
    if trace:
        units = dict(layer_metrics())
        metrics = {k: {"value": report["layer"][k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": report["metrics"][k], "unit": u} for k, u in END_TO_END}
    return json.dumps({"correct": report["failed"] == 0,
                       "attempted": report["attempted"],
                       "failed": report["failed"], "metrics": metrics})


def record_expected() -> None:
    """Rewrite ``expected.json``: run every query of the digest-checked
    workloads once, store its digest and row count, and compare the
    oracle-backed ones with DuckDB once (the verdict is stored beside the
    digest; a disagreement does not stop the recording)."""
    import check

    confine_outputs(session_log("record"))
    from spark_ml_spark import registry
    from spark_ml_spark.io.sources import TABLES
    from spark_ml_spark.session import get_spark

    import fixtures

    spark = get_spark("perfbench-record", cpus=cores())
    queries, oracles = registry.collect()
    out: dict = {}
    try:
        for w in WORKLOADS.values():
            if w.check != "digest":
                continue
            sf_dir = fixtures.ensure(os.path.join(BUILD, "data"), w.sf)
            oracle = check.Oracle(sf_dir, TABLES)
            runner = Runner(spark, sf_dir, queries)
            out[w.name] = {}
            for name in w.queries:
                r = runner.run(name, "collect")
                entry = {"digest": check.digest(r["cols"], r["rows"]),
                         "rows": len(r["rows"])}
                if name in oracles:
                    try:
                        why = oracle.compare(oracles[name], r["cols"], r["rows"])
                    except Exception as ex:  # noqa: BLE001 — DuckDB error or timeout
                        why = f"oracle error: {ex}"
                    entry["oracle"] = why or "match"
                out[w.name][name] = entry
                print(w.name, name, entry)
            oracle.close()
    finally:
        stop_session(spark)
    with open(check.EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    reports, ok = [], True
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        print(proc.stdout, end="")
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            ok = False
            continue
        res = json.loads(lines[-1])
        ok = ok and res["correct"]
        reports.append({"workload": name, **res})
    print(json.dumps({"correct": ok, "workloads": reports}))
    return 0 if ok and len(reports) == len(WORKLOADS) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected.json instead of measuring")
    args = ap.parse_args()
    if args.record:
        record_expected()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args)
    report = run_workload(WORKLOADS[args.workload], args.seed, args.seconds,
                          bool(args.trace))
    print_report(report, bool(args.trace))
    print(result_line(report, bool(args.trace)))
    return 1 if report["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
