#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload tsql_read --seed 1 --seconds 10 --trace 0

Workloads: tsql_read, tsql_ingest, batch_fleet (or `all`). With
`--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` the system under test runs with the perfbench javaagent and
Spark listeners and the line carries the per-layer metrics. Everything
else (progress, the per-statement-type table, the box stamp) goes to
stderr and to `.bench_build/runs/<workload>-seed<n>-trace<t>/report.json`.

The first run in a checkout builds the program and perfbench/jvm with
sbt (offline) into `.bench_build`, `target` and `perfbench/jvm/target`.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402
import wire  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("tsql_read", "tsql_ingest", "batch_fleet")

READ_SPAN_NS = 12 * gen.HOUR  # 48 buckets of 900 s: above Spark's 32-path parallel-listing threshold
# One connection: with two, their statements' listing jobs compete for
# the same Spark task slots, and the quartile spread of latency_ms over
# four seeds was 0.11, against 0.03 with one (4 vCPUs; README).
READ_CONNS = 1
INGEST_INSERTS_PER_S = 1  # per connection and --seconds: the fixed INSERT count
# One key per code path a ROADMAP direction changes, and on each path the
# key that costs least at sf0.1 on 4 vCPUs (README "Fleet keys"):
# the inferred-dictionary fold and sketch kernels (rollup family), md5
# exact dedup and Dedup.ngramJaccardPairsFrom (dedup family; the only
# headline key on that path, dedup_recall_minhash_capped, takes 6-8 s a
# rep, more than the other keys together), a partitioned Window sort
# (win_sessionize) and a Window without a partition spec (pack_sequences).
FLEET_KEYS = {
    "rollup": ["agg_rollup_fold_inferred", "agg_sketch_rollup_inferred"],
    "dedup": ["dedup_exact", "dedup_ngram"],
    "window": ["win_sessionize", "pack_sequences"],
}
JVM_HEAP = "3g"
READY_TIMEOUT_S = 120

# Entry points the javaagent must have instrumented (span names, see
# perfbench/jvm Agent.java) for a traced run's layer numbers to mean
# anything, and the per-layer metrics a workload does not have: only
# these may read 0 without being measured.
TSQL_SPANS = ("tsql.parse", "engine.execute", "catalog.readSeries", "catalog.insert",
              "catalog.compact", "protocol.encode", "spark.codegen_compile")
REQUIRED_SPANS = {
    "tsql_read": TSQL_SPANS,
    "tsql_ingest": TSQL_SPANS,
    "batch_fleet": ("bench.rep", "queries.build", "batch.save", "spark.codegen_compile"),
}
BATCH_ONLY = ("queries.build_s", "queries.eager_jobs", "batch.exec_s", "batch.unattributed_s")
NOT_APPLICABLE = {
    "tsql_read": BATCH_ONLY,
    "tsql_ingest": BATCH_ONLY,
    "batch_fleet": ("catalog.resolve_ms", "catalog.listing_jobs", "catalog.listing_tasks",
                    "catalog.insert_ms", "catalog.files_per_insert", "catalog.bytes_per_insert",
                    "catalog.files_per_series", "catalog.compact_s",
                    "catalog.stored_bytes_per_user_byte_compacted", "tsql.parse_us",
                    "engine.execute_ms", "engine.build_ms", "protocol.encode_us",
                    "protocol.bytes_per_response", "server.residual_ms"),
}


def log(*parts):
    print(*parts, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _fingerprint():
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties", "perfbench/jvm/build.sbt",
             "perfbench/jvm/project/build.properties"]
    for pattern in ("src/main/**/*", "perfbench/jvm/src/**/*"):
        files += sorted(os.path.relpath(p, ROOT) for p in
                        glob.glob(os.path.join(ROOT, pattern), recursive=True) if os.path.isfile(p))
    for rel in files:
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            h.update(rel.encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class Launch:
    def __init__(self, path, fingerprint):
        self.fingerprint = fingerprint
        self.opts, self.agent, self.cp = [], None, None
        with open(path) as f:
            for line in f:
                key, _, value = line.rstrip("\n").partition("=")
                if key == "agent":
                    self.agent = value
                elif key == "cp":
                    self.cp = value
                elif key == "opt":
                    self.opts.append(value)


def build():
    """Builds the program and perfbench/jvm once per source state."""
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/jvm/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"no {need} in {ROOT}: run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    launch, stamp = os.path.join(BUILD, "launch.txt"), os.path.join(BUILD, "fingerprint")
    fp = _fingerprint()
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                return Launch(launch, fp)
    log("perfbench: building the program and perfbench/jvm (sbt, offline)")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # every JVM the build starts keeps its temporary files in the checkout
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts),
               SPARK_DRIVER_MEM=JVM_HEAP,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    t0 = time.monotonic()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                            cwd=os.path.join(HERE, "jvm"), env=env, stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(launch):
        raise BenchError(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"perfbench: built in {time.monotonic() - t0:.1f} s")
    return Launch(launch, fp)


# ------------------------------------------------------------ processes

def java_cmd(launch, run_dir, traced, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + launch.opts + [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
                                    f"-Djava.io.tmpdir={tmp}"]
    if traced:
        cmd += [f"-javaagent:{launch.agent}", "-Dspark.extraListeners=perfbench.SparkTrace"]
    return cmd + ["-cp", launch.cp, "perfbench.Harness"] + args


def java_env(run_dir, **extra):
    return dict(os.environ, SPARK_GRAFT_CPUS=str(stats.nproc()),
                SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"), **extra)


def cpu_s(pid):
    """User plus system CPU seconds of a process, all threads."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return float("nan")


class Server:
    """graft.server.ServerMain inside perfbench.Harness, with its
    stdin/stdout control channel."""

    def __init__(self, launch, run_dir, root, traced, load=None, tag="server"):
        self.t_spawn = time.monotonic()
        args = ["serve", root] + (list(load) if load else [])
        self.err = open(os.path.join(run_dir, f"{tag}.stderr"), "w")
        self.proc = subprocess.Popen(java_cmd(launch, run_dir, traced, args), cwd=run_dir,
                                     env=java_env(run_dir), stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.err, text=True,
                                     start_new_session=True)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        self.port, self.load_s, ready = None, None, False
        try:
            while self.port is None or not ready:
                line = self.expect(("graft server listening", "PERFBENCH READY",
                                    "PERFBENCH LOADED"), READY_TIMEOUT_S)
                if line.startswith("graft server listening"):
                    self.port = int(line.split()[4].rstrip(","))
                elif line.startswith("PERFBENCH LOADED"):
                    self.load_s = float(line.split()[3])
                else:
                    ready = True
        except BaseException:
            self.kill()
            raise
        self.ready_s = time.monotonic() - self.t_spawn

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put(line.strip())
        self.lines.put(None)

    def expect(self, prefixes, timeout):
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                raise BenchError(f"server: no {prefixes} within {timeout} s") from None
            if line is None:
                raise BenchError(f"server exited (code {self.proc.wait()}); see {self.err.name}")
            if line.startswith(prefixes):
                return line

    def command(self, cmd, reply="PERFBENCH OK", timeout=120):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.expect((reply, "PERFBENCH ERROR"), timeout)

    def peak_rss_mb(self):
        return vm_hwm_mb(self.proc.pid)

    def cpu_s(self):
        return cpu_s(self.proc.pid)

    def kill(self):
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGKILL)
        self.proc.wait()
        for f in (self.proc.stdin, self.proc.stdout, self.err):
            try:
                f.close()
            except OSError:
                pass

def closed_loop(port, streams, deadline=None):
    """One thread per connection, each sending its stream in order and
    waiting for every answer. Stops a stream at the deadline (if any).
    Returns per connection a list of (kind, sql, spec, latency_ms,
    response, bytes)."""
    results = [[] for _ in streams]
    errors = []

    def worker(i):
        try:
            conn = wire.Conn(port)
            try:
                for kind, sql, spec in streams[i]:
                    if deadline is not None and time.monotonic() >= deadline:
                        break
                    t0 = time.perf_counter()
                    resp, size = conn.request(sql)
                    results[i].append((kind, sql, spec, (time.perf_counter() - t0) * 1e3, resp, size))
            finally:
                conn.close()
        except Exception as e:  # a dropped connection fails the run
            errors.append(f"connection {i}: {e!r}")

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(len(streams))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise BenchError("; ".join(errors))
    return results


def latency_summary(lat):
    value, level, beyond, n = stats.tail(lat)
    return {"p50_ms": stats.median(lat), "tail_ms": value, "tail_level": level,
            "tail_beyond": beyond, "n": n}


def match_threads(ctx, conns):
    """Maps each connection's ops to the server thread whose statement
    texts are the same sequence."""
    threads = ctx.by_thread()
    out = []
    for ops in conns:
        texts = [op[1] for op in ops]
        found = [cs for cs in threads.values() if [c["text"] for c in cs][:len(texts)] == texts]
        if not found:
            raise BenchError("traced statements do not match the client's")
        out.append(list(zip(ops, found[0])))
    return out


def statement_layers(ctx, pairs):
    """Per-statement layer numbers, with server.residual_ms."""
    rows = []
    for op, c in pairs:
        row = ctx.layers(c["ctx"])
        row["server.residual_ms"] = op[3] - row.pop("_covered_ms")
        row["kind"] = op[0]
        rows.append(row)
    return rows


# ------------------------------------------------------------ workloads

def run_read(launch, run_dir, seed, seconds, traced):
    ts, values = gen.events(seed, READ_SPAN_NS)
    points = os.path.join(run_dir, "events.parquet")
    gen.write_points(points, ts, values)
    oracle = check.EventsOracle(points)
    root = os.path.join(run_dir, "catalog")
    server = Server(launch, run_dir, root, traced, load=(gen.DB, gen.SERIES, points))
    try:
        # warm-up (part of set-up): the measured load's shape, two
        # connections with two statements of each type
        warm = closed_loop(server.port, [[("use", f"USE {gen.DB}", None)] +
                                         gen.read_stream(seed, f"warm{c}", 8, READ_SPAN_NS)
                                         for c in range(READ_CONNS)])
        warm_ops = [op for c in warm for op in c]
        setup_s = time.monotonic() - server.t_spawn
        if traced:
            server.command("reset")
        streams = [[("use", f"USE {gen.DB}", None)] + gen.read_stream(seed, c, 100000, READ_SPAN_NS)
                   for c in range(READ_CONNS)]
        t0, cpu0 = time.monotonic(), server.cpu_s()
        conns = closed_loop(server.port, streams, deadline=t0 + seconds)
        wall, cpu = time.monotonic() - t0, server.cpu_s() - cpu0
        rss = server.peak_rss_mb()
        if traced:
            server.command(f"dump {os.path.join(run_dir, 'trace.jsonl')}")
            written = catalog_files(root, [gen.SERIES])
            line = server.command("maintain", reply="PERFBENCH MAINTAINED")
            compacted = catalog_files(root, [gen.SERIES])
    finally:
        server.kill()

    ops = [op for c in conns for op in c if op[0] != "use"]
    checked = [op for op in warm_ops if op[0] != "use"] + ops
    bad = [op for op in checked if not oracle.check(op[2], op[4])]
    failed = len(bad)
    failed += sum(1 for c in warm + conns for op in c
                  if op[0] == "use" and not (isinstance(op[4], wire.Str) and op[4].ok))
    lat = [op[3] for op in ops]
    by_type = {k: latency_summary([op[3] for op in ops if op[0] == k]) for k in gen.READ_TYPES}
    s = latency_summary(lat)
    report = {
        "setup_s": setup_s, "server_ready_s": server.ready_s, "catalog_load_s": server.load_s, "peak_rss_mb": rss,
        "latency_ms": s["p50_ms"], "tail_ms": s["tail_ms"], "ops_per_s": len(ops) / wall,
        "cpu_ms_per_op": 1e3 * cpu / len(ops), "read_tail": s, "by_type": by_type,
        "point_p50_ms": by_type["point"]["p50_ms"], "scan_p50_ms": by_type["scan"]["p50_ms"],
        "agg_p50_ms": by_type["agg"]["p50_ms"], "sample_p50_ms": by_type["sample"]["p50_ms"],
        "read_tail_ms": s["tail_ms"], "statements": len(ops), "window_s": wall,
        "mismatches": [{"sql": op[1], "got": _brief(op[4]), "expected": _brief(oracle.expected(op[2]))}
                       for op in bad[:5]],
        "buckets": READ_SPAN_NS // (900 * gen.NS), "events_hours": READ_SPAN_NS // gen.HOUR, "points": len(ts),
    }
    layers = None
    if traced:
        ctx = trace.Contexts(trace.load(os.path.join(run_dir, "trace.jsonl")))
        report["instrumented"] = ctx.instrumented
        rows = [r for pairs in match_threads(ctx, conns) for r in statement_layers(ctx, pairs)
                if r["kind"] != "use"]
        layers = tsql_layers(rows, ctx, report)
        # the write-side layer numbers of this workload come from its one
        # bulk TsCatalog.insert (the set-up load) and a Maintenance pass
        layers["catalog.insert_ms"] = server.load_s * 1e3
        layers.update(write_layers(written, compacted, 1, len(ts), float(line.split()[3])))
    return report, len(checked) + 2 * READ_CONNS, failed, layers


def _brief(resp):
    if isinstance(resp, wire.Records):
        return {"records": len(resp.records), "chunks": resp.chunks, "head": resp.records[:3],
                "last": resp.records[-1:]}
    if isinstance(resp, wire.Str):
        return {"ok": resp.ok, "message": resp.message}
    return resp if isinstance(resp, tuple) else {"records": len(resp), "head": resp[:3],
                                                 "last": resp[-1:]}


TSQL_LAYER_KEYS = (
    "catalog.resolve_ms", "catalog.listing_jobs", "catalog.listing_tasks", "catalog.insert_ms",
    "tsql.parse_us", "engine.execute_ms", "engine.build_ms",
    "spark.analysis_ms", "spark.optimizer_ms", "spark.planning_ms", "spark.codegen_compile_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_ms",
    "spark.executor_cpu_ms", "spark.executor_run_ms", "spark.shuffle_bytes", "spark.spill_bytes",
    "spark.single_partition_windows", "spark.job_wall_ms", "protocol.encode_us",
    "protocol.bytes_per_response",
    "server.residual_ms")


def tsql_layers(rows, ctx, report):
    """Medians per statement over all statements (the JSON line) and
    per statement type (the report), and the worst layer of point reads."""
    overall = trace.summarize(rows, TSQL_LAYER_KEYS)
    report["layers_by_type"] = {
        k: trace.summarize([r for r in rows if r["kind"] == k], TSQL_LAYER_KEYS)
        for k in sorted({r["kind"] for r in rows})}
    overall["jvm.gc_ms"] = ctx.gc_ms
    overall["spark.codegen_compile_ms"] = ctx.codegen_ms
    point = report["layers_by_type"].get("point")
    if point and report.get("point_p50_ms"):
        shares = {k: point[k] for k in ("catalog.resolve_ms", "engine.build_ms",
                                        "spark.job_wall_ms", "server.residual_ms")}
        shares["tsql.parse_ms"] = point["tsql.parse_us"] / 1e3
        shares["protocol.encode_ms"] = point["protocol.encode_us"] / 1e3
        worst = max(shares, key=shares.get)
        report["worst_layer_point"] = {"layer": worst, "p50_ms": shares[worst],
                                       "point_p50_ms": report["point_p50_ms"],
                                       "share": shares[worst] / report["point_p50_ms"]}
    return overall


def catalog_files(root, series):
    """(all bytes, parquet files, parquet bytes) under the series' dirs."""
    files = [p for name in series
             for p in glob.glob(os.path.join(root, gen.DB, name, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    parquet = [p for p in files if p.endswith(".parquet")]
    return (sum(os.path.getsize(p) for p in files), len(parquet),
            sum(os.path.getsize(p) for p in parquet))


def write_layers(written, compacted, inserts, points, compact_s, n_series=1):
    """Write-side catalog numbers from the files before and after a
    Maintenance pass."""
    _, files, parquet_bytes = written
    return {"catalog.files_per_insert": files / inserts,
            "catalog.bytes_per_insert": parquet_bytes / inserts,
            "catalog.files_per_series": files / n_series,
            "catalog.compact_s": compact_s,
            "catalog.stored_bytes_per_user_byte_compacted": compacted[0] / (16.0 * points)}


def _ingest_setup(port, fresh):
    """Set-up statements after a server start: on a fresh catalog the
    schema and a warm-up INSERT into a scratch series, then a read of it.
    Returns the ops."""
    stmts = [("ddl", f"CREATEDB {gen.DB}", None)] if fresh else []
    stmts.append(("ddl", f"USE {gen.DB}", None))
    if fresh:
        stmts += [("ddl", f"CREATE {name}" + (" 0 'ignore'" if policy == "ignore" else ""), None)
                  for name, policy in gen.INGEST_SERIES]
        stmts.append(("ddl", "CREATE warm", None))
        t = gen.INGEST_START_NS - gen.DAY
        body = ", ".join(f"({t + i * gen.NS}, {i}.5)" for i in range(gen.INGEST_POINTS))
        stmts.append(("ddl", f"INSERT INTO warm VALUES {body}", None))
    stmts.append(("ddl", "SELECT latest(value) FROM warm", None))
    (ops,) = closed_loop(port, [stmts])
    return ops


def _ok(op):
    return isinstance(op[4], wire.Str) and op[4].ok or isinstance(op[4], wire.Records)


def run_ingest(launch, run_dir, seed, seconds, traced):
    root = os.path.join(run_dir, "catalog")
    inserts = INGEST_INSERTS_PER_S * seconds
    streams = [gen.ingest_stream(seed, c, inserts) for c in range(len(gen.INGEST_SERIES))]
    models = [check.IngestModel(policy) for _, policy in gen.INGEST_SERIES]
    server = Server(launch, run_dir, root, traced)
    restarted = None
    attempted = failed = 0
    try:
        setup_ops = _ingest_setup(server.port, fresh=True)
        setup_s = time.monotonic() - server.t_spawn
        attempted += len(setup_ops)
        failed += sum(1 for op in setup_ops if not _ok(op))
        if traced:
            server.command("reset")
        t0, cpu0 = time.monotonic(), server.cpu_s()
        conns = closed_loop(server.port, [[("use", f"USE {gen.DB}", None)] + s for s in streams])
        wall, cpu = time.monotonic() - t0, server.cpu_s() - cpu0
        if traced:
            server.command(f"dump {os.path.join(run_dir, 'trace.jsonl')}")
        rss = server.peak_rss_mb()

        # checks: acks against the model, read-your-writes on the recent reads
        acked, ins_lat, read_lat = 0, [], []
        for model, ops in zip(models, conns):
            for kind, sql, spec, lat, resp, _ in ops:
                attempted += 1
                if kind == "use":
                    failed += not _ok((kind, sql, spec, lat, resp))
                    continue
                if kind == "insert":
                    pts, _resent = spec
                    want = model.expected_ack(pts)
                    got = check.acked_count(resp)
                    model.apply(pts)
                    acked += got or 0
                    failed += got != want
                    ins_lat.append(lat)
                else:
                    want = model.latest() if kind == "latest" else model.window(*spec)
                    failed += not check.same_records(resp, want)
                    read_lat.append(lat)
        acked_total = sum(len(m.points) for m in models)
        failed += acked != acked_total
        series = [name for name, _ in gen.INGEST_SERIES]
        written = catalog_files(root, series)
        n_inserts = len(ins_lat)

        # durability: SIGKILL, restart on the same catalog, read everything back
        server.kill()
        restarted = Server(launch, run_dir, root, traced, tag="restart")
        re_ops = _ingest_setup(restarted.port, fresh=False)
        restart_s = time.monotonic() - restarted.t_spawn
        attempted += len(re_ops)
        failed += sum(1 for op in re_ops if not _ok(op))

        def read_back():
            reads = [[("use", f"USE {gen.DB}", None),
                      ("all", f"SELECT value FROM {name}", None)] for name, _ in gen.INGEST_SERIES]
            bad = 0
            for model, ops in zip(models, closed_loop(restarted.port, reads)):
                bad += (not _ok(ops[0])) + (not check.same_records(ops[1][4], model.all()))
            return bad

        lost = read_back()
        attempted += 2 * len(gen.INGEST_SERIES)
        failed += lost
        if traced:
            # one Maintenance pass, then everything must still read back
            line = restarted.command("maintain", reply="PERFBENCH MAINTAINED")
            compact_s = float(line.split()[3])
            compacted = catalog_files(root, series)
            lost_after = read_back()
            attempted += 2 * len(gen.INGEST_SERIES)
            failed += lost_after
    finally:
        server.kill()
        if restarted:
            restarted.kill()

    s_ins, s_read = latency_summary(ins_lat), latency_summary(read_lat)
    report = {
        "setup_s": setup_s, "restart_s": restart_s, "peak_rss_mb": rss,
        "latency_ms": s_ins["p50_ms"], "tail_ms": s_ins["tail_ms"], "ops_per_s": n_inserts / wall,
        "cpu_ms_per_op": 1e3 * cpu / n_inserts,
        "insert_p50_ms": s_ins["p50_ms"], "insert_tail_ms": s_ins["tail_ms"], "insert_tail": s_ins,
        "points_per_s": acked / wall, "acked_points": acked,
        "stored_bytes_per_user_byte": written[0] / (16.0 * acked_total),
        "point_p50_ms": s_read["p50_ms"], "read_tail_ms": s_read["tail_ms"], "read_tail": s_read,
        "inserts": n_inserts, "window_s": wall, "durability_lost": lost,
        "parquet_files": written[1], "parquet_bytes": written[2],
        "files_per_insert": written[1] / n_inserts, "bytes_per_insert": written[2] / n_inserts,
    }
    layers = None
    if traced:
        ctx = trace.Contexts(trace.load(os.path.join(run_dir, "trace.jsonl")))
        report["instrumented"] = ctx.instrumented
        rows = [r for pairs in match_threads(ctx, conns) for r in statement_layers(ctx, pairs)
                if r["kind"] != "use"]
        layers = tsql_layers(rows, ctx, report)
        ins_rows = [r for r in rows if r["kind"] == "insert"]
        layers["catalog.insert_ms"] = trace.median([r["catalog.insert_ms"] for r in ins_rows])
        layers.update(write_layers(written, compacted, n_inserts, acked_total, compact_s,
                                   len(series)))
    return report, attempted, failed, layers


def fleet_keys():
    return [k for ks in FLEET_KEYS.values() for k in ks]


def run_fleet(launch, run_dir, seed, seconds, traced):
    sf = os.path.join(run_dir, "sf")
    gen.fleet_fixture(seed, sf)
    reps = 1 + max(2, seconds // 5)
    out = os.path.join(run_dir, "bench_out.json")
    trace_path = os.path.join(run_dir, "trace.jsonl")
    env = java_env(run_dir, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_BENCH_REPS=str(reps),
                   SPARK_GRAFT_BENCH_ONLY=",".join(fleet_keys()), SPARK_GRAFT_BENCH_OUT=out)
    args = ["bench"] + ([trace_path] if traced else [])
    with open(os.path.join(run_dir, "bench.stderr"), "w") as err:
        proc = subprocess.Popen(java_cmd(launch, run_dir, traced, args), cwd=run_dir, env=env,
                                stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=170)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        raise BenchError(f"graft.Bench failed (exit {proc.returncode}); see {err.name}")
    said = dict(line.split()[1:3] for line in stdout.splitlines() if line.startswith("PERFBENCH "))
    with open(out) as f:
        bench = json.load(f)
    raw = bench["raw"]
    failed = sum(1 for k in fleet_keys() if k not in raw or any(t < 0 for t in raw[k]))
    ok = {k: v for k, v in raw.items() if all(t >= 0 for t in v)}
    warm = {k: stats.median(v[1:]) for k, v in ok.items()}
    fam = {f: sum(warm.get(k, 0.0) for k in ks) for f, ks in FLEET_KEYS.items()}
    all_reps = [t for v in ok.values() for t in v]
    s = latency_summary([t * 1e3 for t in all_reps])
    session_cpu_ns = int(said["SESSION_CPU_NS"])
    if session_cpu_ns < 0:
        raise BenchError("graft.Bench never made a default Spark session")
    report = {
        "setup_s": bench["jvm_start"]["uptime_ms"] / 1e3,
        "peak_rss_mb": int(said["VMHWM_KB"]) / 1024.0,
        # Bench JVM CPU from its session's appearance to its end
        "cpu_ms_per_op": (int(said["CPU_NS"]) - session_cpu_ns) / 1e6 / len(all_reps),
        "cpu_ms_to_session": session_cpu_ns / 1e6,
        "latency_ms": 1e3 * sum(warm.values()) / len(warm), "tail_ms": s["tail_ms"], "rep_tail": s,
        "ops_per_s": len(all_reps) / sum(all_reps),
        "fleet_warm_s": sum(warm.values()), "fleet_cold_s": sum(v[0] for v in ok.values()),
        "rollup_warm_s": fam["rollup"], "dedup_warm_s": fam["dedup"],
        "window_warm_s": fam["window"], "warm_share": {k: v / sum(warm.values()) for k, v in warm.items()},
        "reps": reps, "keys": FLEET_KEYS, "raw": raw, "bench_box_state": bench.get("box_state"),
    }
    layers = None
    if traced:
        ctx = trace.Contexts(trace.load(trace_path))
        report["instrumented"] = ctx.instrumented
        layers = fleet_layers(ctx, list(raw), raw, reps, report)
    return report, len(fleet_keys()), failed, layers


def fleet_layers(ctx, keys, raw, reps, report):
    """Per fleet: for each key the median over warm reps, summed over keys."""
    reps_ctx = sorted((c for c in ctx.ctx if c.startswith("r")), key=lambda c: int(c[1:]))
    if len(reps_ctx) != len(keys) * reps:
        raise BenchError(f"traced {len(reps_ctx)} reps, expected {len(keys) * reps}")
    per_key = {}
    for i, key in enumerate(keys):
        rows = []
        for r in range(1, reps):
            row = ctx.layers(reps_ctx[i * reps + r])
            wall = raw[key][r]
            row["batch.unattributed_s"] = wall - row["queries.build_s"] - row["_save_s"]
            row["spark.plan_s"] = row["_plan_s"]
            rows.append(row)
        per_key[key] = rows
    keys_out = BATCH_ONLY + ("spark.plan_s",) + tuple(
        k for k in TSQL_LAYER_KEYS if k not in NOT_APPLICABLE["batch_fleet"])
    med = {k: trace.summarize(rows, keys_out) for k, rows in per_key.items()}
    layers = {x: sum(m[x] for m in med.values()) for x in keys_out}
    layers["jvm.gc_ms"] = ctx.gc_ms
    layers["spark.codegen_compile_ms"] = ctx.codegen_ms
    report["layers_by_key"] = med
    return layers


RUNNERS = {"tsql_read": run_read, "tsql_ingest": run_ingest, "batch_fleet": run_fleet}


# ----------------------------------------------------------------- main

def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(launch, bench, workload, seed, seconds, traced):
    if traced:
        # a traced run makes the timed run it is compared with when there
        # is none: each measures half of --seconds, so that both together
        # fit the time one run may take
        seconds = max(1, seconds // 2)
    run_dir = os.path.join(BUILD, "runs", f"{workload}-seed{seed}-trace{int(traced)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    box = stats.BoxStamp()
    log(f"perfbench: {workload} seed={seed} seconds={seconds} trace={int(traced)}")
    report, attempted, failed, layers = RUNNERS[workload](launch, run_dir, seed, seconds, traced)
    report["box"] = box.finish()
    report.update(workload=workload, seed=seed, seconds=seconds, trace=int(traced),
                  attempted=attempted, failed=failed, fingerprint=launch.fingerprint)
    if traced:
        check_instrumented(workload, report["instrumented"])
        timed = _timed_report(workload, seed, seconds, launch.fingerprint)
        if timed is None:
            log("perfbench: no timed run of these inputs and sources yet; running one")
            run_one(launch, bench, workload, seed, seconds, False)
            timed = _timed_report(workload, seed, seconds, launch.fingerprint)
        layers["trace.overhead_frac"] = report["latency_ms"] / timed["latency_ms"] - 1.0
        layers["jvm.peak_rss_mb"] = report["peak_rss_mb"]
        report["layers"] = layers
        wanted = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        source = layers
    else:
        wanted = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
        source = report
    for name in ("tsql_read", "tsql_ingest", "batch_fleet"):
        for d in glob.glob(os.path.join(BUILD, "runs", f"{name}-seed*-trace*", "*")):
            if os.path.isdir(d) and os.path.basename(d) in ("catalog", "tmp", "sf"):
                shutil.rmtree(d, ignore_errors=True)
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    _print_summary(report)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": pick_metrics(workload, traced, wanted, source)}


def check_instrumented(workload, instrumented):
    """Fails a traced run in which an entry point of the workload's
    layers matched no method: its layer would read 0 unseen."""
    missing = [name for name in REQUIRED_SPANS[workload] if not instrumented.get(name)]
    if missing:
        raise BenchError(f"the agent instrumented nothing for {', '.join(missing)}: the "
                         f"program's entry points changed; see perfbench/jvm Agent.java")


def pick_metrics(workload, traced, wanted, source):
    """The metrics of the JSON line. Only a per-layer metric the workload
    does not have (NOT_APPLICABLE) may be absent, and then reads 0."""
    missing = [name for name, _ in wanted
               if name not in source and not (traced and name in NOT_APPLICABLE[workload])]
    if missing:
        raise BenchError(f"{workload} measured no {', '.join(missing)}")
    return {name: {"value": float(source.get(name, 0.0)), "unit": unit} for name, unit in wanted}


def _timed_report(workload, seed, seconds, fingerprint):
    """The timed run of the same inputs and sources, if there is one."""
    path = os.path.join(BUILD, "runs", f"{workload}-seed{seed}-trace0", "report.json")
    if os.path.exists(path):
        with open(path) as f:
            report = json.load(f)
        if (report.get("fingerprint"), report.get("seconds")) == (fingerprint, seconds):
            return report
    return None


def _print_summary(r):
    keys = [k for k in ("setup_s", "latency_ms", "tail_ms", "ops_per_s", "peak_rss_mb",
                        "point_p50_ms", "scan_p50_ms", "agg_p50_ms", "sample_p50_ms",
                        "read_tail_ms", "insert_p50_ms", "insert_tail_ms", "points_per_s",
                        "stored_bytes_per_user_byte", "fleet_warm_s", "fleet_cold_s",
                        "rollup_warm_s", "dedup_warm_s") if k in r]
    log("perfbench: " + ", ".join(f"{k}={r[k]:.4g}" for k in keys))
    if "worst_layer_point" in r:
        w = r["worst_layer_point"]
        log(f"perfbench: worst layer on point reads: {w['layer']} {w['p50_ms']:.1f} ms of "
            f"point_p50_ms {w['point_p50_ms']:.1f} ms ({w['share']:.0%})")
    b = r["box"]
    log(f"perfbench: box nproc={b['nproc']} load1={b['load1_start']:.2f}->{b['load1_end']:.2f} "
        f"steal={b['steal_frac']:.1%} mem_available_mb={b['mem_available_mb_end']}")
    log(f"perfbench: attempted={r['attempted']} failed={r['failed']}")
    for m in r.get("mismatches", []):
        log(f"perfbench: mismatch: {json.dumps(m, default=str)[:600]}")


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    try:
        bench = load_benchmark()
        launch = build()
        results = [run_one(launch, bench, w, a.seed, a.seconds, bool(a.trace))
                   for w in (WORKLOADS if a.workload == "all" else (a.workload,))]
    except (BenchError, OSError, ValueError, subprocess.SubprocessError) as e:
        log(f"perfbench: error: {e}")
        return 2
    for r in results:
        print(json.dumps(r), flush=True)
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
