#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_export --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --describe

Every line but the last is for people: each metric by name with its
unit, and the output-check result. The last line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
the metrics are the end-to-end metrics of BENCHMARK.json; with
`--trace 1` they are its per-layer metrics, and the spans go to
`.perfbench_out/`.

The input tables are read from `SPARK_GRAFT_SF_DIR`, the variable the
program's own bench and server read, or else from the sf 0.1 directory
that TESTDATA.md lists. Each run works on private copies of them.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

import jvm
import loadgen
import oracle
import spans
import stats
import workloads

CPUS = len(os.sched_getaffinity(0))
SETUPS = 3
SHARED_ROOTS = ("/tmp/graft-lake", "/tmp/graft-views", "/tmp/graft-stream")
OUT_DIR = os.path.join(jvm.ROOT, ".perfbench_out")


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


class RunFailed(Exception):
    pass


# ---------------------------------------------------------------- input

def java_string_hash_hex(s):
    """`Integer.toHexString(s.hashCode)`, which names the program's
    per-input view and stream outputs."""
    h = 0
    for ch in s:
        h = (31 * h + ord(ch)) & 0xFFFFFFFF
    return format(h, "x")


def owned_entries(sf_dir):
    """Entries under the shared /tmp roots that belong to one input copy:
    lake tables carry the copy's path slug, view and stream outputs the
    hash of its path. Nothing else there is touched."""
    slug = "".join(c if c.isalnum() or c == "." else "_" for c in sf_dir)
    tag = java_string_hash_hex(sf_dir)
    found = []
    for root in SHARED_ROOTS:
        if not os.path.isdir(root):
            continue
        for name in os.listdir(root):
            if root.endswith("lake"):
                mine = f"_{slug}_" in name
            else:
                mine = name.endswith(f"_{tag}") or f"_{tag}_" in name
            if mine:
                found.append(os.path.join(root, name))
    return found


def tree_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total


def input_dir():
    """SPARK_GRAFT_SF_DIR, else the sf 0.1 row of TESTDATA.md."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"].rstrip("/")
    with open(os.path.join(jvm.ROOT, "TESTDATA.md")) as fh:
        for line in fh:
            cells = [c.strip(" `") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == "0.1":
                return cells[2].rstrip("/")
    raise FileNotFoundError("TESTDATA.md lists no sf 0.1 directory")


def copy_input(work, k):
    """A private copy of the input, so the program's derived tables for it
    are built from cold in this run."""
    src = input_dir()
    dst = os.path.join(work, f"input{k}", os.path.basename(src))
    shutil.copytree(src, dst)
    return dst


# ------------------------------------------------------------- counters

def delta(after, before):
    return {k: after[k] - before.get(k, 0) for k in after
            if isinstance(after[k], (int, float)) and not isinstance(after[k], bool)}


# ----------------------------------------------------------- workloads

class Run:
    def __init__(self, name, seed, seconds, trace):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.spec = workloads.WORKLOADS[name]
        self.work = os.path.join(jvm.ROOT, ".perfbench_work",
                                 f"{name}-{seed}-{uuid.uuid4().hex[:8]}")
        os.makedirs(self.work)
        self.inputs = []
        self.setup_s = []
        self.setup_info = []
        self.attempted = self.failed = 0
        self.timed_builds = 0
        self.failures = {}
        self.trace_spans = spans.Spans()
        self.layer = {}
        self.e2e = {}
        self.h = None

    # -- common ---------------------------------------------------------

    def fail(self, key, reason):
        self.failed += 1
        self.failures.setdefault(key, []).append(reason)

    def setup(self, k, serve, warm):
        """Set-up k: a session on a lake nobody has built yet, and its
        warm-up. The first is timed from the JVM's launch."""
        t0 = self.t_launch if k == 0 else time.perf_counter()
        sf = self.inputs[k]
        before = self.h.call("counters") if k else {"builds": 0, "build_s": 0.0}
        info = self.h.call("setup", sfDir=sf, cpus=CPUS, serve=serve)
        warm(k, sf, info)
        self.setup_s.append(time.perf_counter() - t0)
        after = self.h.call("counters")
        info["builds"] = after["builds"] - before["builds"]
        info["build_s"] = after["build_s"] - before["build_s"]
        self.setup_info.append(info)
        return sf, info

    def timed_builds_check(self, before, after):
        n = after["builds"] - before["builds"]
        self.timed_builds += n
        if n:
            raise RunFailed(f"{n} derived-table build(s) ran inside the timed phase: "
                            f"{after['build_names'][before['builds']:]}")

    def stored_bytes(self):
        sf = self.inputs[-1]
        derived = sum(tree_bytes(p) for p in owned_entries(sf))
        source = sum(os.path.getsize(os.path.join(sf, n)) for n in os.listdir(sf)
                     if n.endswith(".parquet"))
        return derived, source

    def cleanup(self):
        if self.h is not None:
            self.h.close()
        for sf in self.inputs:
            for p in owned_entries(sf):
                shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(self.work, ignore_errors=True)

    def median_setup(self):
        i = sorted(range(len(self.setup_s)), key=self.setup_s.__getitem__)[len(self.setup_s) // 2]
        return self.setup_s[i], self.setup_info[i]

    def common_metrics(self, heap_mb):
        derived, source = self.stored_bytes()
        setup, info = self.median_setup()
        self.e2e["setup_s"] = setup
        self.e2e["live_heap_mb"] = heap_mb
        self.e2e["stored_bytes_ratio"] = derived / source
        self.layer["sources.register_ms"] = info["register_ms"]
        self.layer["sources.setup_builds"] = info["builds"]
        self.layer["sources.builds"] = self.timed_builds
        self.layer["sources.build_s"] = info["build_s"]
        self.layer["sources.stored_bytes"] = derived

    def job_layer(self, d, n):
        for k, name in (("jobs", "jobs.count"), ("stages", "jobs.stages"),
                        ("tasks", "jobs.tasks"), ("executor_cpu_ms", "jobs.executor_cpu_ms"),
                        ("executor_run_ms", "jobs.executor_run_ms"),
                        ("shuffle_write_bytes", "jobs.shuffle_write_bytes"),
                        ("shuffle_read_bytes", "jobs.shuffle_read_bytes"),
                        ("spill_bytes", "jobs.spill_bytes"), ("output_bytes", "jobs.output_bytes"),
                        ("output_records", "jobs.output_records"),
                        ("result_bytes", "jobs.result_bytes"), ("gc_ms", "jobs.gc_ms"),
                        ("analysis_ms", "engine.analysis_ms"),
                        ("optimization_ms", "engine.optimization_ms"),
                        ("planning_ms", "engine.planning_ms"),
                        ("files_scanned", "sources.files_scanned"),
                        ("bytes_scanned", "sources.bytes_scanned")):
            self.layer[name] = d[k] / n

    def timed_blocks(self, serve, warm, block):
        """Set up SETUPS times. After each set-up but the first, which also
        warms the JVM, run one timed block of `seconds / (SETUPS - 1)`, so
        the timed work is spread over the run. Returns the last set-up's
        input copy."""
        for k in range(SETUPS):
            sf, info = self.setup(k, serve, warm)
            if k:
                self.block = k
                before = self.h.call("counters")
                block(info, self.seconds / (SETUPS - 1))
                self.timed_builds_check(before, self.h.call("counters"))
        return sf

    def traced_unit(self, i):
        """Whether unit i of a block (a round or a pass) is traced. In a
        traced run units alternate, starting untraced in one block and
        traced in the next, so trace.overhead compares neighbours rather
        than early and late work; listeners are attached only for traced
        units."""
        tracing = self.trace and (i + self.block) % 2 == 0
        if self.trace:
            self.h.call("listen", on=tracing)
        return tracing

    # -- serve_export ---------------------------------------------------

    def run_serve(self):
        def warm(k, sf, info):
            client = loadgen.Client(info["port"])
            for req in workloads.warmup_requests():
                client.send(req)
            client.close()

        rounds = workloads.export_rounds(self.seed)
        size = len(workloads.EXPORT_CLASSES)
        attempts, round_s = {False: [], True: []}, {False: [], True: []}
        per_request = []  # listener counters of each traced request

        def block(info, seconds):
            client = loadgen.Client(info["port"])
            state, flags = {}, []

            def before_round(i):
                state["tracing"] = self.traced_unit(i)
                flags.append(state["tracing"])
                state["snap"] = self.h.call("counters") if state["tracing"] else None

            def after_each(a):
                if state["tracing"]:
                    nxt = self.h.call("counters")
                    per_request.append(delta(nxt, state["snap"]))
                    state["snap"] = nxt

            done, times = loadgen.closed_loop(client, rounds, seconds, after_each, before_round,
                                              min_rounds=2 if self.trace else 1)
            client.close()
            if self.trace:
                self.h.call("listen", on=False)
            for i, (t, tracing) in enumerate(zip(times, flags)):
                round_s[tracing].append(t)
                attempts[tracing].extend(done[i * size:(i + 1) * size])

        sf = self.timed_blocks(True, warm, block)
        heap = self.h.call("heap")["live_heap_mb"]
        plain, traced = attempts[False], attempts[True]
        lat = [a.latency_ms for a in plain]
        self.e2e["p50_ms"] = stats.median(lat)
        self.e2e["pass_s"] = stats.median(round_s[False])
        decoded = self.check_responses(oracle.Oracle(sf), plain + traced)
        self.common_metrics(heap)
        if self.trace:
            self.serve_layers(plain, traced, decoded[len(plain):], per_request)
        for cls in self.spec["classes"]:
            mine = [a.latency_ms for a in plain if a.req.cls == cls]
            sent = sum(a.req.cls == cls for a in plain + traced)
            log(f"class {cls}: p50 {stats.median(mine):.1f} ms untraced; "
                f"{len(self.failures.get(cls, []))} of {sent} requests failed")
        log(f"round times {[round(r, 3) for r in round_s[False]]}")
        extra = {"fail_ratio": (self.failed / self.attempted, "1"),
                 "attempts": (len(lat), "count"), "rounds": (len(round_s[False]), "count")}
        tail = stats.tail_percentile(len(lat))
        if stats.p90_available(len(lat)):
            extra["p90_ms"] = (stats.percentile(lat, 90), "ms")
        elif tail is not None:
            extra[f"p{tail}_ms"] = (stats.percentile(lat, tail), "ms")
        return extra

    def check_responses(self, orc, attempts):
        """Check every timed response against DuckDB; returns the decoded
        bodies (None where there was no usable JSON)."""
        decoded = []
        for a in attempts:
            self.attempted += 1
            body, why = check_attempt(orc, a)
            if why:
                self.fail(a.req.cls, why)
            decoded.append(body)
        known = set(self.spec["known_wire_defects"])
        self.correct = all(k in known for k in self.failures)
        return decoded

    def serve_layers(self, plain, traced, decoded, per_request):
        n = len(traced)
        sp = self.trace_spans
        trace = self.h.call("trace")
        sp.jobs, sp.queries = trace["jobs"], trace["queries"]
        execute, overhead, rows = [], [], []
        replays = {}
        for i, (a, body) in enumerate(zip(traced, decoded)):
            rid = f"r{i}"
            key = (a.req.sql, a.req.limit)
            if key not in replays:
                replays[key] = self.h.call("serialize", q=a.req.sql, limit=a.req.limit)
            root = sp.add(rid, "server.request", a.due_epoch, a.end_epoch, cls=a.req.cls,
                          bytes=len(a.body), responded=a.responded,
                          counters=per_request[i])
            if body is not None and "metadata" in body:
                t = body["metadata"]["timeMs"]
                end = body["metadata"]["epochMs"] / 1000.0
                execute.append(t)
                overhead.append(a.latency_ms - t)
                rows.append(len(body["records"]))
                ex = sp.add(rid, "engine.execute", end - t / 1000.0, end, parent=root)
                sp.add_busy(rid, sp.jobs, end - t / 1000.0, end, ex)
            else:
                rows.append(replays[key]["rows"])
        own = sp.self_times()
        d = total(per_request)
        self.job_layer(d, n)
        self.layer.update({
            "server.overhead_ms": stats.median(overhead) if overhead else 0.0,
            "server.resp_bytes": sum(len(a.body) for a in traced) / n,
            "server.no_response": sum(not a.responded for a in traced),
            "server.inband_errors": sum(b is not None and "errorMessage" in b for b in decoded),
            "server.self_ms": own.get("server.request", 0.0) / n,
            "engine.execute_ms": stats.median(execute) if execute else 0.0,
            "engine.serialize_ms": sum(replays[(a.req.sql, a.req.limit)]["serialize_ms"]
                                       for a in traced) / n,
            "engine.rows": sum(rows) / n,
            "engine.repeat_share": repeat_share([(a.req.sql, a.req.limit) for a in traced]),
            "engine.self_ms": own.get("engine.execute", 0.0) / n,
            "jobs.self_ms": own.get("jobs.busy", 0.0) / n,
            "queries.construct_ms": 0.0,
            "queries.materialize_ms": 0.0,
            "queries.self_ms": 0.0,
            "sources.rows_examined_per_result": d["rows_scanned"] / max(1, sum(rows)),
            "loadgen.lag_ms": stats.median(
                [(b.due - a.end) * 1000.0 for a, b in zip(plain, plain[1:])] or [0.0]),
            "trace.overhead": stats.median([a.latency_ms for a in traced]) /
                stats.median([a.latency_ms for a in plain]),
        })

    # -- pipeline_refresh ------------------------------------------------

    def run_batch(self):
        ops = self.spec["ops"]
        checks = []

        def warm(k, sf, info):
            # the untimed pass of a set-up, collected for the output check
            outs = os.path.join(self.work, f"out{k}")
            os.makedirs(outs)
            results = {op: self.h.call("run", name=op, out=os.path.join(outs, op + ".json"))
                       for op in ops}
            checks.append((sf, outs, results))

        passes = {False: [], True: []}
        op_ms, traced_runs = [], []

        def block(info, seconds):
            # whole passes through the noop sink; another one only when it
            # should end inside the block
            t0, done = time.perf_counter(), []
            while (len(done) < (2 if self.trace else 1)
                   or time.perf_counter() - t0 + stats.median(done) <= seconds):
                tracing = self.traced_unit(len(done))
                snap = self.h.call("counters") if tracing else None
                p0 = time.perf_counter()
                for op in ops:
                    self.attempted += 1
                    s, e0 = time.perf_counter(), time.time()
                    r = self.h.call("run", name=op)
                    wall = (time.perf_counter() - s) * 1000.0
                    if "error" in r:
                        self.fail(op, r["error"])
                    elif tracing:
                        nxt = self.h.call("counters")
                        traced_runs.append((op, e0, e0 + wall / 1000.0, r, delta(nxt, snap)))
                        snap = nxt
                    else:
                        op_ms.append(wall)
                done.append(time.perf_counter() - p0)
                passes[tracing].append(done[-1])
            if self.trace:
                self.h.call("listen", on=False)

        self.timed_blocks(False, warm, block)
        heap = self.h.call("heap")["live_heap_mb"]
        self.check_outputs(ops, checks, self.h.call("oracle")["sql"])
        self.correct = not self.failures
        self.e2e["p50_ms"] = stats.median(op_ms)
        self.e2e["pass_s"] = stats.median(passes[False])
        log(f"pass times {[round(r, 3) for r in passes[False]]}; "
            f"op times {[round(x) for x in op_ms]}")
        self.common_metrics(heap)
        if self.trace:
            rows = {op: r.get("rows", 0) for op, r in checks[-1][2].items()}
            self.batch_layers(traced_runs, passes, rows)
        return {"passes": (len(passes[False]), "count"), "op_runs": (len(op_ms), "count"),
                "fail_ratio": (self.failed / self.attempted, "1")}

    def check_outputs(self, ops, checks, oracles):
        """Compare each set-up's collected pass with DuckDB."""
        for sf, outs, results in checks:
            orc = oracle.Oracle(sf)
            for op in ops:
                self.attempted += 1
                if "error" in results[op]:
                    self.fail(op, results[op]["error"])
                elif op not in oracles:
                    self.fail(op, "no oracle SQL")
                else:
                    with open(os.path.join(outs, op + ".json")) as fh:
                        got = json.load(fh)
                    cols, rows = orc.answer(oracles[op])
                    why = oracle.compare(cols, rows, got["columns"], got["rows"],
                                         ordered=False)
                    if why:
                        self.fail(op, "oracle mismatch: " + why)
            orc.close()

    def batch_layers(self, runs, passes, rows):
        n = len(runs)
        sp = self.trace_spans
        trace = self.h.call("trace")
        sp.jobs, sp.queries = trace["jobs"], trace["queries"]
        for i, (op, e0, e1, r, counters) in enumerate(runs):
            rid = f"o{i}"
            root = sp.add(rid, "loadgen.op", e0, e1, op=op, counters=counters)
            c0, m0, m1 = (r[k] / 1000.0 for k in
                          ("construct_start_ms", "materialize_start_ms", "end_ms"))
            for name, s, e in (("queries.construct", c0, m0), ("queries.materialize", m0, m1)):
                sp.add_busy(rid, sp.jobs, s, e, sp.add(rid, name, s, e, parent=root))
        d = total(counters for *_, counters in runs)
        own = sp.self_times()
        self.job_layer(d, n)
        self.layer.update({
            "server.overhead_ms": 0.0, "server.resp_bytes": 0.0,
            "server.no_response": 0, "server.inband_errors": 0, "server.self_ms": 0.0,
            "engine.execute_ms": 0.0, "engine.serialize_ms": 0.0,
            "engine.rows": sum(rows[op] for op, *_ in runs) / n,
            "engine.repeat_share": 1.0, "engine.self_ms": 0.0,
            "jobs.self_ms": own.get("jobs.busy", 0.0) / n,
            "queries.construct_ms": sum(r["construct_ms"] for *_, r, _ in runs) / n,
            "queries.materialize_ms": sum(r["materialize_ms"] for *_, r, _ in runs) / n,
            "queries.self_ms": (own.get("queries.construct", 0.0) +
                                own.get("queries.materialize", 0.0)) / n,
            "sources.rows_examined_per_result":
                d["rows_scanned"] / max(1, sum(rows[op] for op, *_ in runs)),
            "loadgen.lag_ms": own.get("loadgen.op", 0.0) / n,
            "trace.overhead": stats.median(passes[True]) / stats.median(passes[False]),
        })


def total(counters):
    out = {}
    for c in counters:
        for k, v in c.items():
            out[k] = out.get(k, 0) + v
    return out


def check_attempt(orc, a):
    """(decoded body or None, failure reason or None) of one served
    attempt. No response, a non-200 status, an in-band error and a result
    that differs from the oracle's are all failures."""
    if not a.responded:
        return None, a.error
    if a.status != 200:
        return None, f"HTTP {a.status}"
    try:
        body = json.loads(a.body)
    except ValueError:
        return None, "response is not JSON"
    if "errorMessage" in body:
        return body, "in-band error: " + str(body["errorMessage"])[:120]
    cols, rows = orc.answer(a.req.oracle_sql)
    got = [[r.get(c) for c in body["columns"]] for r in body["records"]]
    why = oracle.compare(cols, rows, body["columns"], got, ordered=True)
    return body, why and "oracle mismatch: " + why


def repeat_share(keys):
    seen, repeats = set(), 0
    for k in keys:
        repeats += k in seen
        seen.add(k)
    return repeats / len(keys) if keys else 0.0


# ---------------------------------------------------------------- main

def describe():
    spec = json.load(open(os.path.join(jvm.ROOT, "BENCHMARK.json")))
    detail = {n: dict(w, seed="--seed", setups=SETUPS, cpus=CPUS)
              for n, w in workloads.WORKLOADS.items()}
    print(json.dumps({"benchmark": spec, "workloads": detail,
                      "layer_map": spans.LAYER_MAP}, indent=2))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--describe", action="store_true")
    args = ap.parse_args(argv)
    if args.describe:
        describe()
        return 0
    if not args.workload:
        ap.error("--workload is required")
    try:
        src = input_dir()
    except OSError as e:
        print(f"[perfbench] no input: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(src):
        print(f"[perfbench] input directory {src} not found", file=sys.stderr)
        return 2
    os.makedirs(OUT_DIR, exist_ok=True)
    try:
        jvm.ensure_built(os.path.join(OUT_DIR, "build.log"))
    except (jvm.BuildError, OSError, subprocess.SubprocessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 3
    run = Run(args.workload, args.seed, args.seconds, args.trace == 1)
    try:
        run.inputs = [copy_input(run.work, k) for k in range(SETUPS)]
        run.t_launch = time.perf_counter()
        run.h = jvm.Harness(run.work)
        extra = run.run_serve() if run.spec["kind"] == "serve" else run.run_batch()
    except Exception as e:  # any failure ends the run without a result line
        print(f"[perfbench] run failed: {type(e).__name__}: {e}", file=sys.stderr)
        if run.h is not None and os.path.exists(run.h.log_path):
            keep = os.path.join(OUT_DIR, f"{args.workload}-{args.seed}.jvm.log")
            shutil.copy(run.h.log_path, keep)
            print(f"[perfbench] harness log kept at {keep}", file=sys.stderr)
        return 1
    finally:
        run.cleanup()
    report(run, extra, args)
    return 0


def report(run, extra, args):
    spec = json.load(open(os.path.join(jvm.ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = run.layer if args.trace else run.e2e
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    log(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
        f"trace {args.trace} local[{CPUS}] input {input_dir()}")
    for name, m in metrics.items():
        log(f"{name} = {m['value']:.6g} {m['unit']}")
    for name, (v, unit) in extra.items():
        log(f"{name} = {v:.6g} {unit}")
    log(f"setup_s per set-up = {[round(s, 3) for s in run.setup_s]}")
    log(f"output check: {'correct' if run.correct else 'INCORRECT'}; "
        f"{run.failed} of {run.attempted} attempts failed")
    for key, reasons in sorted(run.failures.items()):
        log(f"  failed {key}: {len(reasons)}x, e.g. {reasons[0]}")
    if args.trace:
        path = os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
        run.trace_spans.write(path, run.layer)
        log(f"trace written to {path}")
    print(json.dumps({"correct": run.correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
