"""One benchmark process: set up a session, run a workload's passes,
check the outputs, and write what it measured as JSON.

After set-up it runs the first (cold) pass and checks that pass's
outputs against their oracles. With ``--trace 1`` it then runs warm
passes until ``--seconds`` have passed (at least ``MIN_WARM_TRACED``);
the session writes a Spark event log, every builder call and write is
tagged with a job group, and the per-layer counters are folded in at
the end. With ``--setup-only 1`` it only sets up and reports the set-up
time.

Run from the root of a checkout; ``run.py`` launches it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import procstat

#: warm passes behind each per-layer median
MIN_WARM_TRACED = 3


def now_ms() -> int:
    return int(time.time() * 1000)


def dir_mb(path: str) -> float:
    """Size on disk of the files under ``path``, in MB."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


class Run:
    def __init__(self, args, spec: dict):
        self.args, self.spec = args, spec
        self.workload = args.workload
        self.queries = spec["queries"]
        self.trace = bool(args.trace)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spans: list[dict] = []
        self.groups: dict[str, tuple] = {}
        self.windows: list[tuple] = []
        self.phase_spans: dict[tuple, int] = {}
        self.pass_stats: list[dict] = []

    def span(self, name: str, parent: int | None, start: int, end: int) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name,
             "start_ms": start, "end_ms": end}
        )
        return len(self.spans) - 1

    def tag(self, label: str, key: tuple | None = None) -> None:
        if self.trace:
            gid = f"{self.workload}/{label}"
            if key is not None:
                self.groups[gid] = key
            self.spark.sparkContext.setJobGroup(gid, gid)

    def setup(self) -> None:
        from capex_data_pipeline_spark.session import get_spark
        from capex_data_pipeline_spark.sources.parquet import read_table
        from workloads import STATE_DIR, builders

        self.state_dir = os.path.join(self.args.work, STATE_DIR)
        self.builders = builders(self.state_dir)

        n = os.cpu_count() or 1
        work = self.args.work
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
        }
        if self.trace:
            os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=conf,
        )
        self.session_start_s = time.perf_counter() - t
        self.cores = n
        self.tag("setup")
        read_table(self.spark, self.args.data, self.spec["table"])
        self.setup_s = procstat.process_age_s()

    def one_pass(self, p: int, check: bool = False) -> None:
        """Run every query once, timed; with ``check``, then fetch and
        check each output (untimed) before the pass's blocks are released."""
        from capex_data_pipeline_spark import cache, registry_ext

        # every pass folds into fresh state tables
        shutil.rmtree(self.state_dir, ignore_errors=True)
        cpu0 = procstat.cpu_split()
        t0, w0 = time.perf_counter(), now_ms()
        pspan = self.span(f"pass#{p}", None, w0, w0)
        tracked = stored = 0.0
        outputs = {}
        for q in self.queries:
            self.attempted += 1
            qstart = now_ms()
            qspan = self.span(q, pspan, qstart, qstart)
            try:
                self.tag(f"{q}#{p}/build", (p, q, "build"))
                b0 = now_ms()
                df = self.builders[q](self.spark, self.args.data)
                b1 = now_ms()
                self.tag(f"{q}#{p}/exec", (p, q, "exec"))
                df.write.format("noop").mode("overwrite").save()
                e1 = now_ms()
            except Exception as exc:  # a failed query counts, the pass goes on
                self.failed += 1
                self.errors.append(f"pass {p} {q}: {type(exc).__name__}: {exc}"[:500])
                continue
            finally:
                self.spans[qspan]["end_ms"] = now_ms()
            outputs[q] = df
            self.windows += [(b0, b1, (p, q, "build")), (b1, e1, (p, q, "exec"))]
            self.phase_spans[(p, q, "build")] = self.span("build", qspan, b0, b1)
            self.phase_spans[(p, q, "exec")] = self.span("write", qspan, b1, e1)
            if self.trace:
                tracked += cache.tracked_count()
                stored = max(stored, self.stored_mb())
        wall = time.perf_counter() - t0
        cpu1 = procstat.cpu_split()
        self.spans[pspan]["end_ms"] = now_ms()
        if check:
            self.verify(outputs)
        self.tag(f"release#{p}")
        r0 = time.perf_counter()
        registry_ext.clear_pipeline_cache()
        cache.release_persisted()
        release = time.perf_counter() - r0
        self.pass_stats.append({
            "pass": p,
            "wall_s": wall,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "cache_tracked": tracked,
            "cache_stored_mb": stored,
            "cache_release_s": release,
            "state_mb": dir_mb(self.state_dir),
        })

    def stored_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def verify(self, outputs: dict) -> None:
        """Check each query's output against its oracle. The oracles run
        in a second thread while Spark fetches the outputs."""
        from concurrent.futures import ThreadPoolExecutor

        import oracle
        from capex_data_pipeline_spark.registry import ORACLES
        from workloads import TABLES

        self.tag("verify")
        t0 = time.perf_counter()
        orc = oracle.Oracle(self.args.data, TABLES[self.spec["sf"]])
        self.corruption_checked = False
        with ThreadPoolExecutor(max_workers=1) as pool:
            wants = {q: pool.submit(orc.rows, ORACLES[q]) for q in self.queries}
            for q in self.queries:
                self.attempted += 1
                try:
                    if q not in outputs:
                        raise RuntimeError("no output: the query failed")
                    got = oracle.spark_side(outputs[q])
                    why = oracle.compare(got, wants[q].result())
                except Exception as exc:
                    why = f"{type(exc).__name__}: {exc}"
                if why is not None:
                    self.failed += 1
                    self.errors.append(f"verify {q}: {why}"[:500])
                elif not self.corruption_checked and got[1]:
                    if not oracle.corruption_caught(got):
                        self.failed += 1
                        self.errors.append(f"verify {q}: corrupted output not caught")
                    self.corruption_checked = True
        self.verify_s = time.perf_counter() - t0

    def main(self) -> dict:
        self.setup()
        out = {"setup_s": self.setup_s}
        self.one_pass(0, check=True)
        warm0 = time.perf_counter()
        p = 1
        while self.trace and (
            p <= MIN_WARM_TRACED or time.perf_counter() - warm0 < self.args.seconds
        ):
            self.one_pass(p)
            p += 1
        out["peak_rss_mb"] = self.peak_rss_mb = procstat.peak_rss_mb()
        self.spark.stop()
        out.update({
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors,
            "corruption_checked": self.corruption_checked,
            "verify_s": self.verify_s,
            "passes": self.pass_stats,
            "cores": self.cores,
        })
        if self.trace:
            out["layers"] = self.layers()
        with open(os.path.join(self.args.work, "spans.json"), "w") as f:
            json.dump(self.spans, f)
        return out

    def layers(self) -> dict:
        import eventlog

        logdir = os.path.join(self.args.work, "eventlog")
        (name,) = [n for n in os.listdir(logdir) if not n.endswith(".inprogress")]
        folded = eventlog.fold(os.path.join(logdir, name), self.groups, self.windows)
        os.remove(os.path.join(logdir, name))  # large; the folded spans remain
        # pass -> query -> build | write -> plan, exec; jobs under build or exec
        parents = dict(self.phase_spans)
        for b0, b1, key in self.windows:
            first = folded["phases"].get(key, {}).get("first_submit")
            if key[2] == "exec" and first is not None:
                write = self.phase_spans[key]
                self.span("plan", write, b0, first)
                parents[key] = self.span("exec", write, first, b1)
        for j in folded["jobs"]:
            self.span(f"job {j['id']}", parents.get(j["key"]), j["submit"], j["end"])
        warm = [s for s in self.pass_stats if s["pass"] > 0]
        per_pass = [self.pass_layers(s, folded["phases"]) for s in warm]
        med = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
        # the JVM's heap growth under the default 16 GB heap makes this
        # spread too widely between runs to gate, so it is a layer metric
        med["peak_rss_mb"] = self.peak_rss_mb
        med["exec.jobs_each_pass"] = [d["exec.jobs"] for d in per_pass]
        med["check"] = folded["check"]
        return med

    def pass_layers(self, s: dict, phases: dict) -> dict:
        p, mb = s["pass"], 2**20
        tot = {k: 0.0 for k in (
            "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
            "shuffle_read_b", "shuffle_write_b", "input_b",
            "input_rows", "output_b", "unattributed_jobs")}
        build_s = build_jobs = build_job_ms = plan_ms = exec_ms = 0.0
        skew = 1.0
        for (b0, b1, key) in self.windows:
            if key[0] != p:
                continue
            ph = phases.get(key, {})
            for k in tot:
                tot[k] += ph.get(k, 0)
            skew = max(skew, ph.get("skew", 1.0))
            if key[2] == "build":
                build_s += (b1 - b0) / 1000
                build_jobs += ph.get("jobs", 0)
                build_job_ms += ph.get("job_ms", 0)
            else:
                first = ph.get("first_submit")
                plan = (first - b0) if first is not None else (b1 - b0)
                plan = min(max(plan, 0), b1 - b0)
                plan_ms += plan
                exec_ms += (b1 - b0) - plan
        cap = s["wall_s"] * self.cores
        return {
            "build.s": build_s,
            "build.jobs": build_jobs,
            "build.job_s": build_job_ms / 1000,
            "build.driver_s": build_s - build_job_ms / 1000,
            "plan.s": plan_ms / 1000,
            "exec.s": exec_ms / 1000,
            "exec.jobs": tot["jobs"],
            "exec.stages": tot["stages"],
            "exec.tasks": tot["tasks"],
            "exec.task_run_s": tot["task_run_ms"] / 1000,
            "exec.task_cpu_s": tot["task_cpu_ns"] / 1e9,
            "exec.util": tot["task_cpu_ns"] / 1e9 / cap,
            "exec.idle_share": 1 - tot["task_run_ms"] / 1000 / cap,
            "exec.shuffle_read_mb": tot["shuffle_read_b"] / mb,
            "exec.shuffle_write_mb": tot["shuffle_write_b"] / mb,
            "exec.gc_s": tot["gc_ms"] / 1000,
            "exec.skew": skew,
            "exec.unattributed_jobs": tot["unattributed_jobs"],
            "sources.input_mb": tot["input_b"] / mb,
            "sources.input_rows": tot["input_rows"],
            "sinks.output_mb": tot["output_b"] / mb,
            "state.table_mb": s["state_mb"],
            "cache.tracked": s["cache_tracked"],
            "cache.stored_mb": s["cache_stored_mb"],
            "cache.release_s": s["cache_release_s"],
            "cpu.warm_pass_s": s["cpu"]["total"],
            "udf.worker_cpu_s": s["cpu"]["workers"],
            "driver.py_cpu_s": s["cpu"]["driver"],
            "session.start_s": self.session_start_s,
            "verify.s": self.verify_s,
            "trace.wall_s": s["wall_s"],
            "trace.first_pass_s": self.pass_stats[0]["wall_s"],
        }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setup-only", type=int, default=0)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    from workloads import WORKLOADS

    run = Run(args, WORKLOADS[args.workload])
    if args.setup_only:
        run.setup()
        out = {"setup_s": run.setup_s}
        run.spark.stop()
    else:
        out = run.main()
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, args.out)


if __name__ == "__main__":
    main()
