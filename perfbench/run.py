#!/usr/bin/env python3
"""Benchmark of ruleset_analysis_spark, end to end and layer by layer.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (why each exists: perfbench/README.md):

* ``query_suite`` — one registry query per operator module on the
  seed's generated corpus, built with its ``QuerySpec.builder``.
* ``firewall_job`` — ``pipeline.run_ruleset_analysis`` then
  ``sources.sinks.write_parquet`` over the seed's gzipped ASA syslog and
  ASA config.

Both follow one protocol (``measure``): set up on a cold JVM, a first
pass, rerun passes in the same session, then an untimed correctness
check. Every call is timed from outside the package. Suite outputs (as
the rerun collected them) are compared with their DuckDB oracle on the
same corpus; every firewall report written is compared exactly with the
report the input generator computed in pure Python.

``--trace 1`` runs the workload traced: Spark's event log on and every
timed call tagged with ``setJobGroup``; the log is folded into the
per-layer metrics. ``trace.overhead_ratio`` divides its ``wall_s`` by
that of an untraced setup and first pass run just before it in a child
process. Every run writes a per-operation ledger to
``.perfbench/ledger-<workload>-seed<n>-trace<0|1>.json``.

A run leaves no process behind: it makes itself the subreaper of its
descendants, so the JVM's Python workers are orphaned to it rather than
to init, and on every way out it kills and waits for whatever is left.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer
metrics traced). Inputs, scratch space, event logs and outputs stay
under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench")

# One registry query per operator module, run in name order: the one
# whose first-pass time was nearest its module's median in a measured
# full-registry pass (perfbench/README.md, "How the suite was chosen").
# Scans queries that cache a scratch layout under a fixed /tmp path are
# left out: they write outside the checkout, and a run after the first
# would time a cache hit. dedup_ngram_jaccard and sim_ann_lsh stand in
# for their modules' median queries, which cost 7.0 s and 3.8 s cold and
# pushed a traced run to the 180 s a run may take. Each query has a
# DuckDB oracle.
SUITE = (
    "agg_min_max_by",                  # aggregations
    "dedup_ngram_jaccard",             # dedup
    "filter_conjunction",              # scalar
    "firewall_shadowed_rules",         # firewall
    "graph_kcore_bounded",             # graph
    "join_full_outer",                 # joins
    "multimodal_binary_features",      # multimodal
    "sample_importance_weighted",      # sampling
    "scan_parquet",                    # scans
    "setop_intersect",                 # sorts_setops
    "sim_ann_lsh",                     # similarity
    "stream_lateness_histogram",       # event_windows
    "subquery_exists",                 # subqueries
    "text_diversity_simpson",          # text_analysis
    "text_ngram_novelty",              # curation
    "tpch_q16_supplier_variety",       # tpch
    "udf_iter_pandas",                 # udfs
    "window_rank_topk_per_group",      # windows
)
# Rerun passes per 10 s of --seconds (at least one): a count rather
# than a deadline, so every run reports the same point of the JIT
# warm-up curve (rerun times still fall from pass to pass). The
# firewall job's rerun takes about 4 s, the suite's about 15 s.
RERUNS_PER_10S = {"query_suite": 1, "firewall_job": 3}
# The JVM heap is fixed at this size (-Xms as well as -Xmx): a heap that
# grows when G1 decides to grow it made the JVM's resident size, and so
# peak_rss_mb, vary by a fifth from run to run.
DRIVER_MEMORY = "1g"
MB = 1024.0 * 1024.0
PREFIX_ROUNDS = 3

now = time.perf_counter


# --------------------------------------------------------------------
# process-tree resident memory, read from /proc (psutil is not a
# dependency of the repository)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while scanning
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pss_kb(root: int) -> int:
    """Resident memory (kB) of ``root`` and its descendants, as the sum
    of their proportional set sizes: a page shared by several processes
    (the copy-on-write pages of forked Python workers, shared libraries)
    is split among them, so the sum counts it once."""
    kids, todo, total = _children(), [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue  # exited while scanning
    return total


def reap() -> None:
    """Kill every process left under this one and wait for each to end.
    As the subreaper (``main``) this process also inherits the orphans of
    its descendants, so the loop runs until none is left."""
    me = os.getpid()
    while kids := _children().get(me):
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


class RssSampler(threading.Thread):
    """Samples the resident memory of this process tree (driver Python,
    JVM, Python workers) every ``interval`` seconds; ``stop`` returns
    the largest sample in MB."""

    def __init__(self, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, tree_pss_kb(os.getpid()))
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return max(self.peak_kb, tree_pss_kb(os.getpid())) / 1024


# --------------------------------------------------------------------
# session handling


class Harness:
    """Owns the run's scratch directory, Spark sessions, operation
    counts and (when tracing) job tags and event-log locations."""

    def __init__(self, workload: str, trace: bool) -> None:
        self.workload, self.trace = workload, trace
        self.tmp = os.path.join(WORK, "tmp", str(os.getpid()))
        self.events = os.path.join(self.tmp, "events")
        os.makedirs(self.events)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        # Scratch space in the checkout: Python temp files (the package
        # ships itself to workers from a temp zip), Spark local dirs,
        # the JVM temp dir and, when tracing, the event log.
        os.environ["TMPDIR"] = tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": f"file://{self.events}",
            })
        args = ["--driver-java-options", f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"]
        for k, v in conf.items():
            args += ["--conf", f"{k}={v}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    def session(self):
        from ruleset_analysis_spark.session import get_spark

        return get_spark(
            app_name=f"perfbench-{self.workload}",
            cpus=len(os.sched_getaffinity(0)),
            driver_memory=DRIVER_MEMORY,
        )

    def tag(self, spark, group: str) -> None:
        if self.trace:
            spark.sparkContext.setJobGroup(group, group)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def event_log(self, app_id: str):
        """Folded event log of a stopped session (traced runs only)."""
        from eventlog import fold

        return fold(os.path.join(self.events, app_id))

    def close(self) -> None:
        """Stop the JVM (and with it its Python workers), wait for it,
        and drop the scratch directory."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw else None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.tmp, ignore_errors=True)


def substrate(spark) -> dict[str, float]:
    """Persisted RDDs and their resident bytes (memory + disk)."""
    sc = spark.sparkContext._jsc.sc()
    infos = list(sc.getRDDStorageInfo())
    return {
        "persisted_rdds": float(spark.sparkContext._jsc.getPersistentRDDs().size()),
        "resident_mb": sum(i.memSize() + i.diskSize() for i in infos) / MB,
    }


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Collected:
    """A query's output as a pass collected it, with the two attributes
    ``oracle.compare`` reads from a DataFrame."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self) -> list:
        return self.rows


def timed_op(h: Harness, spark, label: str, name: str, build, execute) -> dict:
    """Time one public call that builds a DataFrame and one that runs it.
    A call that raises counts as a failed operation, not a crash."""
    h.tag(spark, f"{label}:{name}")
    t0, t1, ok = now(), None, True
    try:
        df = build()
        t1 = now()
        execute(df)
    except Exception as e:  # noqa: BLE001 — a failing operation is a result
        ok = False
        print(f"[{label}] {name}: {type(e).__name__}: {e}", file=sys.stderr)
    t2 = now()
    t1 = t1 or t2
    h.op(ok, f"{label}:{name} raised")
    return {"build_s": t1 - t0, "exec_s": t2 - t1}


# --------------------------------------------------------------------
# the measured protocol, shared by both workloads


def measure(h: Harness, setup, timed_pass, check, reruns: int) -> dict:
    """Set up a session on a cold JVM, run the first pass and ``reruns``
    rerun passes in it, then check the outputs. ``peak_rss_mb`` covers
    the setup and the passes; the check runs after the memory sampler
    has stopped, so the DuckDB oracle side is not counted.

    ``setup(spark)`` readies the new session; ``timed_pass(spark,
    label)`` returns ``{operation: {"build_s", "exec_s"}}``;
    ``check(spark, passes)``, unless ``None``, counts correct and wrong
    outputs and may return extra ``layers`` and ``ledger`` entries."""
    sampler = RssSampler()
    sampler.start()
    try:
        t0 = now()
        spark = h.session()
        t1 = now()
        setup(spark)
        t2 = now()
        passes: list[dict] = []
        for i in range(1 + reruns):
            label = f"rerun{i}" if i else "first"
            t = now()
            ops = timed_pass(spark, label)
            passes.append({"label": label, "wall_s": now() - t, "ops": ops,
                           "substrate": substrate(spark)})
    finally:
        peak = sampler.stop()
    h.tag(spark, "check")
    t = now()
    extra = (check(spark, passes) if check else None) or {}
    check_s = now() - t
    app_id = spark.sparkContext.applicationId
    spark.stop()

    first, later = passes[0], passes[1:]
    ops = first["ops"].values()
    result = {
        "e2e": {
            "setup_s": t2 - t0,
            "wall_s": first["wall_s"],
            "rerun_wall_s": median(p["wall_s"] for p in later) if later else None,
            "peak_rss_mb": peak,
        },
        "layers": {
            "session.get_spark_s": t1 - t0,
            "sources.read_s": t2 - t1,
            "driver.build_s": sum(q["build_s"] for q in ops),
            "engine.exec_s": sum(q["exec_s"] for q in ops),
            "substrate.persisted_rdds_end": passes[-1]["substrate"]["persisted_rdds"],
            "substrate.resident_mb_end": passes[-1]["substrate"]["resident_mb"],
        },
        "ledger": {"passes": passes, "check_s": check_s},
    }
    if h.trace:
        groups = h.event_log(app_id)
        for p in passes:
            for name, q in p["ops"].items():
                q["engine"] = groups.get(f"{p['label']}:{name}", {})
            spans = sum(q["build_s"] + q["exec_s"] for q in p["ops"].values())
            p["reconcile"] = spans / p["wall_s"]
        result["layers"].update(spark_layers(groups, [f"first:{n}" for n in first["ops"]]))
    result["layers"].update(extra.get("layers", {}))
    result["ledger"].update(extra.get("ledger", {}))
    return result


def spark_layers(groups: dict, tags) -> dict[str, float]:
    from eventlog import total

    return {f"spark.{k}": v for k, v in total(groups, tags).items()}


# --------------------------------------------------------------------
# workloads


def query_suite(h: Harness, corpus_dir: str, reruns: int, checked: bool = True) -> dict:
    from ruleset_analysis_spark.plans.registry import all_specs
    from ruleset_analysis_spark.sources.parquet import TABLE_NAMES, load

    specs = all_specs()

    def setup(spark) -> None:
        for t in TABLE_NAMES:
            load(spark, corpus_dir, t).cache().count()

    outputs: dict[str, Collected] = {}

    def sink(label: str, name: str):
        # The first pass writes to the noop sink. Reruns collect each
        # output for the check, so the check needs no pass of its own.
        if label == "first":
            return noop
        return lambda df: outputs.__setitem__(name, Collected(df))

    def timed_pass(spark, label: str) -> dict:
        return {
            n: timed_op(h, spark, label, n, lambda n=n: specs[n].builder(spark, corpus_dir),
                        sink(label, n))
            for n in SUITE
        }

    def check(spark, passes) -> None:
        from ruleset_analysis_spark.oracle import compare, duck_connect

        con = duck_connect(corpus_dir)
        for n in SUITE:
            try:
                res = compare(n, outputs[n], con, specs[n].oracle)
                ok, why = res.ok, "; ".join(res.problems[:2])
            except Exception as e:  # noqa: BLE001
                ok, why = False, f"{type(e).__name__}: {e}"
            h.op(ok, f"check:{n} {why}")
        con.close()

    res = measure(h, setup, timed_pass, check if checked else None, reruns)
    modules: dict[str, dict] = {}
    for n, q in res["ledger"]["passes"][0]["ops"].items():
        m = modules.setdefault(
            "operators." + specs[n].builder.__module__.rsplit(".", 1)[-1],
            {"build_s": 0.0, "exec_s": 0.0, "stages": 0, "queries": []})
        m["build_s"] += q["build_s"]
        m["exec_s"] += q["exec_s"]
        m["stages"] += q.get("engine", {}).get("stages", 0)
        m["queries"].append(n)
    res["ledger"]["modules"] = modules
    return res


def read_report(out_dir: str) -> list[list]:
    import pyarrow.dataset as ds

    rows = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table().to_pylist()
    cols = ("acl", "rule_id", "action", "hits", "n_flows", "n_sources", "status")
    return sorted([[r[c] if c != "status" else str(r[c]) for c in cols] for r in rows],
                  key=lambda r: (r[0], r[1]))


def firewall_job(h: Harness, paths: dict, reruns: int, checked: bool = True) -> dict:
    from pyspark.sql import functions as F
    from ruleset_analysis_spark.pipeline import match_flows_to_rules, run_ruleset_analysis
    from ruleset_analysis_spark.sources.asa_config import rules_dataframe
    from ruleset_analysis_spark.sources.sinks import write_parquet
    from ruleset_analysis_spark.sources.text_logs import parse_asa_hits, read_log_lines

    def config_text() -> str:
        with open(paths["config"]) as f:
            return f.read()

    def timed_pass(spark, label: str) -> dict:
        return {"ruleset_analysis": timed_op(
            h, spark, label, "ruleset_analysis",
            lambda: run_ruleset_analysis(spark, paths["logs"], config_text()),
            lambda df: write_parquet(df, os.path.join(h.tmp, label), partition_by=["status"],
                                     sort_within_partitions=["acl", "rule_id"]),
        )}

    def prefixes(spark) -> dict:
        """Cumulative prefixes of the job, each run to the noop sink."""
        key = ["acl", "protocol", "src_ip", "dst_ip", "dst_port"]
        t0 = now()
        # only the columns the job reads, so this prefix prunes the regex
        # groups the later prefixes prune
        hits = parse_asa_hits(read_log_lines(spark, paths["logs"])).select(*key, "hit_cnt")
        noop(hits)
        t1 = now()
        flows = hits.groupBy(*key).agg(F.sum("hit_cnt").alias("hit_cnt"))
        noop(flows)
        t2 = now()
        rules = rules_dataframe(spark, config_text())
        rules.count()
        t3 = now()
        noop(match_flows_to_rules(flows, rules))
        return {"parse": t1 - t0, "flows": t2 - t1, "rules": t3 - t2, "match": now() - t3}

    def phases(spark, job_s: float) -> dict:
        """Per-layer self time of the warm job: the difference of adjacent
        prefixes (medians of PREFIX_ROUNDS rounds); the report joins and
        the parquet write are what ``job_s`` adds to the match prefix."""
        h.tag(spark, "prefix")
        rounds = [prefixes(spark) for _ in range(PREFIX_ROUNDS)]
        p = {k: median(r[k] for r in rounds) for k in rounds[0]}
        return {
            "sources.text_logs.parse_s": p["parse"],
            "flows_s": p["flows"] - p["parse"],
            "sources.asa_config.rules_s": p["rules"],
            "pipeline.match_s": p["match"] - p["flows"],
            "sources.sinks.write_s": job_s - p["match"],
        }

    def check(spark, passes) -> dict:
        with open(paths["expected"]) as f:
            expected = json.load(f)
        for p in passes:
            try:
                ok = read_report(os.path.join(h.tmp, p["label"])) == expected
            except (OSError, ValueError) as e:  # missing or unreadable output
                ok = False
                print(f"[{p['label']}] unreadable report: {e}", file=sys.stderr)
            h.op(ok, f"{p['label']}: report differs from the expected report")
        wall = passes[0]["wall_s"]
        ledger = {"lines": paths["lines"], "lines_per_s": paths["lines"] / wall}
        if not h.trace:
            return {"ledger": ledger}
        ph = phases(spark, median(p["wall_s"] for p in passes[1:]))
        ledger["phases"] = ph
        return {"ledger": ledger, "layers": {"sources.read_s": ph["sources.text_logs.parse_s"]}}

    return measure(h, lambda spark: None, timed_pass, check if checked else None, reruns)


WORKLOADS = {"query_suite": query_suite, "firewall_job": firewall_job}


# --------------------------------------------------------------------


def untraced_wall(workload: str, source) -> float:
    """``wall_s`` of the workload untraced: setup on a cold JVM and the
    first pass, no reruns and no check. Run in a child process (as an
    untraced run is), and by the traced run itself, so the ratio
    compares this code with itself."""
    h = Harness(workload, trace=False)
    try:
        return WORKLOADS[workload](h, source, reruns=0, checked=False)["e2e"]["wall_s"]
    finally:
        h.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: print the untraced wall_s only (the traced run's baseline)
    ap.add_argument("--untraced-wall", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # a terminated run unwinds too, so it also reaps
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args)
    finally:
        reap()


def run(args) -> int:
    """Generate the inputs, run the workload and print the result line."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, REPO)
    import ruleset_analysis_spark  # noqa: F401 — fail fast outside a full checkout

    # Generate the inputs (or find them cached) in a child process, so
    # the generator's memory stays out of this process tree's peak.
    kind = "firewall" if args.workload == "firewall_job" else "corpus"
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), kind, str(args.seed),
         os.path.join(WORK, "inputs")],
        stdout=subprocess.PIPE, text=True, check=True)
    source = json.loads(gen.stdout)
    if args.untraced_wall:
        print(json.dumps(untraced_wall(args.workload, source)), flush=True)
        return 0
    if args.trace:
        base = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--untraced-wall"],
            stdout=subprocess.PIPE, text=True, check=True)
        base_wall = float(base.stdout.splitlines()[-1])

    h = Harness(args.workload, bool(args.trace))
    try:
        reruns = max(1, round(RERUNS_PER_10S[args.workload] * args.seconds / 10))
        res = WORKLOADS[args.workload](h, source, reruns)
    finally:
        h.close()

    e2e, layers = res["e2e"], res["layers"]
    if args.trace:
        layers["trace.overhead_ratio"] = e2e["wall_s"] / base_wall
    ledger = os.path.join(WORK, f"ledger-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(ledger, "w") as f:
        json.dump({"e2e": e2e, "layers": layers, **res["ledger"], "problems": h.problems},
                  f, indent=1)
    print(f"ledger: {ledger}", file=sys.stderr)
    declared, values = (spec["per_layer"], layers) if args.trace else (spec["end_to_end"], e2e)
    for p in h.problems:
        print(f"FAILED {p}", file=sys.stderr)
    print(json.dumps({
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
