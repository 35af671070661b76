"""Per-layer metrics from a traced run.

The JVM side (perfbench/jvm) writes one JSON object per line: `ctx`
(a wire statement or a Bench rep opened), `span` (a call into a layer,
with its context), `job` (a finished Spark job and its task totals),
`sql` and `qe` (a query execution, its context and Catalyst phase
times), `jvm0`/`jvm` (GC time at the start and end of the window;
codegen compile time since the JVM started) and `agent` (how many
methods or call sites the javaagent instrumented per span name).
"""
import collections
import json

from stats import median

LISTING = "Listing leaf files"


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ms(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


class Contexts:
    """Everything recorded, grouped by trace context."""

    def __init__(self, events):
        self.ctx = {}
        self.spans = collections.defaultdict(list)
        self.jobs = collections.defaultdict(list)
        self.qes = collections.defaultdict(list)
        self.gc_ms = self.codegen_ms = 0
        self.instrumented = {}
        exec_ctx = {e["exec"]: e["ctx"] for e in events if e["k"] == "sql"}
        gc0 = 0
        for e in events:
            k = e["k"]
            if k == "ctx":
                self.ctx[e["ctx"]] = e
            elif k == "span":
                self.spans[e["ctx"]].append(e)
            elif k == "job":
                self.jobs[e["ctx"]].append(e)
            elif k == "qe":
                self.qes[exec_ctx.get(e["exec"], "bg")].append(e)
            elif k == "jvm0":
                gc0 = e["gc_ms"]
            elif k == "jvm":
                self.gc_ms = e["gc_ms"] - gc0
                self.codegen_ms = e["codegen_ms"]
            elif k == "agent":
                self.instrumented = e["instrumented"]

    def by_thread(self):
        """Statement contexts per server thread, in order."""
        out = collections.defaultdict(list)
        for c in sorted(self.ctx.values(), key=lambda e: int(e["ctx"][1:])):
            out[c["thread"]].append(c)
        return out

    def layers(self, c):
        """Layer numbers of one context."""
        spans, jobs, qes = self.spans.get(c, []), self.jobs.get(c, []), self.qes.get(c, [])

        def span_ms(name):
            return sum(s["ns"] for s in spans if s["name"] == name) / 1e6

        def iv(name):
            return [(s["t"], s["t"] + s["ns"] / 1e6) for s in spans if s["name"] == name]

        listing = [j for j in jobs if j["desc"].startswith(LISTING)]
        job_iv = [(j["start"], j["end"]) for j in jobs]
        out = {
            "tsql.parse_us": span_ms("tsql.parse") * 1000,
            "engine.execute_ms": span_ms("engine.execute"),
            "catalog.resolve_ms": span_ms("catalog.readSeries"),
            "catalog.insert_ms": span_ms("catalog.insert"),
            "catalog.listing_jobs": len(listing),
            "catalog.listing_tasks": sum(j["tasks"] for j in listing),
            "protocol.encode_us": span_ms("protocol.encode") * 1000,
            "protocol.bytes_per_response": sum(max(s["bytes"], 0) for s in spans
                                               if s["name"] == "protocol.encode"),
            "spark.analysis_ms": sum(q["analysis_ms"] for q in qes),
            "spark.optimizer_ms": sum(q["optimizer_ms"] for q in qes),
            "spark.planning_ms": sum(q["planning_ms"] for q in qes),
            "spark.codegen_compile_ms": span_ms("spark.codegen_compile"),
            "spark.jobs": len(jobs),
            "spark.stages": sum(j["stages"] for j in jobs),
            "spark.tasks": sum(j["tasks"] for j in jobs),
            "spark.scheduler_delay_ms": sum(j["sched_ms"] for j in jobs),
            "spark.executor_cpu_ms": sum(j["cpu_ns"] for j in jobs) / 1e6,
            "spark.executor_run_ms": sum(j["run_ms"] for j in jobs),
            "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
            "spark.spill_bytes": sum(j["spill_bytes"] for j in jobs),
            "spark.single_partition_windows": sum(q["single_partition_windows"] for q in qes),
        }
        # engine build: execute minus its catalog calls and the Spark jobs inside it
        build = 0.0
        for a, b in iv("engine.execute"):
            inner = _clip(iv("catalog.readSeries") + iv("catalog.insert") + job_iv, a, b)
            build += (b - a) - _union_ms(inner)
        out["engine.build_ms"] = build
        # Spark job wall time outside the catalog calls (query execution)
        catalog_iv = iv("catalog.readSeries") + iv("catalog.insert")
        out["spark.job_wall_ms"] = _union_ms(job_iv + catalog_iv) - _union_ms(catalog_iv)
        # the in-process time that covers a statement: parse, execute,
        # encode, Catalyst phases and any Spark job (streamed results
        # plan and run their jobs after execute, between encodes)
        qe_iv = [(q["t"], q["t"] + q["analysis_ms"] + q["optimizer_ms"] + q["planning_ms"])
                 for q in qes if q["t"]]
        covered = (iv("tsql.parse") + iv("engine.execute") + iv("protocol.encode") + job_iv
                   + qe_iv)
        out["_covered_ms"] = _union_ms(covered)
        # Bench reps: the query function (build), the noop save and the
        # Catalyst time of the executions started inside the save
        saves = iv("batch.save")
        out["queries.build_s"] = span_ms("queries.build") / 1e3
        out["queries.eager_jobs"] = sum(1 for j in jobs if j["phase"] == "build")
        plan_ms = sum(q["analysis_ms"] + q["optimizer_ms"] + q["planning_ms"] for q in qes
                      if any(a <= q["t"] <= b for a, b in saves))
        out["_save_s"] = span_ms("batch.save") / 1e3
        out["batch.exec_s"] = max(0.0, out["_save_s"] - plan_ms / 1e3)
        out["_plan_s"] = plan_ms / 1e3
        return out


def summarize(rows, keys):
    """Median over rows for each key (rows: list of layer dicts)."""
    return {k: median([r[k] for r in rows]) for k in keys if rows}
