"""The benchmark's workloads and the loops that time them.

Every workload is a closed loop driven by one client thread: the next
operation starts only after the previous one has finished. An operation
is one registry query (build, plan, execute) or one streaming round
(land one input file, wait until both stream jobs have folded it into
their state). Operations are grouped into passes. The first pass runs
cold, right after set-up, and is reported on its own; a second pass
runs unmeasured while JIT compilation settles; warm passes then run
until ``seconds`` have elapsed, always finishing the pass in progress,
so every warm number covers whole passes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import harness
from sparkstat import SparkStatus

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass(frozen=True)
class QueryWorkload:
    sf: float
    queries: tuple[str, ...]


@dataclass(frozen=True)
class StreamWorkload:
    sf: float
    n_files: int
    rounds_per_pass: int


WORKLOADS = {
    # execution-bound queries, the targets of the roadmap's open items on
    # shuffle width, pair stages and the single-task Arrow UDF parse:
    # executor CPU, shuffle and scheduling set the latency, while the
    # registry builders still cost a fifth to a quarter of a warm pass
    "batch": QueryWorkload(
        sf=0.01,
        queries=(
            "html_sellers_parse",
            "ngram_jaccard_capped",
            "docs_containment_pairs",
            "doc_fingerprints",
        ),
    ),
    # the write path: micro-batches folded into persistent state, which no
    # query touches; the aggregate state grows with every batch while the
    # Count-Min state stays constant-size
    "stream": StreamWorkload(sf=0.1, n_files=100, rounds_per_pass=3),
}

# Queries whose per-layer split is reported by name: targets of the
# roadmap's open items, each in one workload's query list.
NAMED_QUERIES = (
    "html_sellers_parse",
    "ngram_jaccard_capped",
    "docs_containment_pairs",
    "doc_fingerprints",
)
NAMED_FIELDS = ("build_s", "plan_s", "exec_s", "cpu_s", "tasks", "shuffle_write_mb")
STREAM_JOBS = ("agg", "cms")
# progress ``durationMs`` keys summed into each reported stream phase
STREAM_PHASES = {
    "add_batch": ("addBatch",),
    "source": ("latestOffset", "getBatch"),
    "plan": ("queryPlanning",),
    "commit": ("walCommit", "commitOffsets"),
}
STREAM_FIELDS = ("add_batch_s", "source_s", "plan_s", "commit_s",
                 "jobs_per_batch", "state_mb", "write_amp")
STREAM_SCHEMA = "l_orderkey BIGINT, l_partkey BIGINT, l_quantity BIGINT, token STRING"
EXEC_FIELDS = ("s", "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
               "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
               "sched_gap_s", "busy_frac")
SPAN_NAMES = ("query", "build", "plan", "execute", "round", "batch", "stage") + tuple(
    f"stream_{p}" for p in STREAM_PHASES
)

PER_LAYER = (
    ["session.start_s", "session.first_touch_s",
     "registry.build_s", "registry.build_cold_s", "registry.build_jobs", "registry.build_job_s",
     "catalyst.plan_s", "catalyst.plan_nodes"]
    + [f"exec.{k}" for k in EXEC_FIELDS]
    + [f"{q}.{k}" for q in NAMED_QUERIES for k in NAMED_FIELDS]
    + [f"stream.{j}.{k}" for j in STREAM_JOBS for k in STREAM_FIELDS]
    + [f"self.{n}_s" for n in SPAN_NAMES]
    + ["trace.hook_s", "trace.overhead_frac", "process.peak_rss_mb"]
)


def checksum_frame(df):
    """One-row frame ``(n, h)``: the row count and the order-insensitive
    sum of ``xxhash64`` over every column of ``df``. Hashing every column
    makes the action compute every output column, where a plain
    ``count()`` would let the optimizer prune them. Maps cannot be hashed
    and their entry order is not stable, so a top-level map is hashed as
    its sorted entry list and a nested one through ``to_json``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def has_map(t) -> bool:
        if isinstance(t, T.MapType):
            return True
        if isinstance(t, T.ArrayType):
            return has_map(t.elementType)
        if isinstance(t, T.StructType):
            return any(has_map(f.dataType) for f in t.fields)
        return False

    cols = []
    for f in df.schema.fields:
        c = F.col("`" + f.name.replace("`", "``") + "`")
        if isinstance(f.dataType, T.MapType):
            c = F.to_json(F.array_sort(F.map_entries(c)))
        elif has_map(f.dataType):
            c = F.to_json(c)
        cols.append(c)
    h = F.xxhash64(*cols) if cols else F.lit(0)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0)).cast("string").alias("h"),
    )


def read_checksum(df) -> tuple[int, int]:
    row = checksum_frame(df).collect()[0]
    return int(row["n"]), int(row["h"])


@dataclass
class Result:
    """What one workload run measured."""

    first_pass_s: float = 0.0
    pass_s: list[float] = field(default_factory=list)  # wall of each warm pass
    pass_cpu_s: list[float] = field(default_factory=list)  # executor CPU of each
    ops: dict[str, list[float]] = field(default_factory=dict)  # warm latencies by kind
    ops_per_pass: dict[str, int] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    @property
    def op_s(self) -> list[float]:
        return [v for vals in self.ops.values() for v in vals]

    def end_to_end(self) -> dict[str, float]:
        """End-to-end metrics of the run; ``setup_s`` and memory are
        added by the caller. A warm pass is rebuilt from the median
        latency of each kind of operation, so one slow sample (a host
        hiccup) moves it less than it would move one measured pass. An
        operation that never succeeded has no latency; the run then
        reports it as failed."""
        return {
            "first_pass_s": self.first_pass_s,
            "pass_s": sum(
                n * statistics.median(self.ops[k])
                for k, n in self.ops_per_pass.items()
                if self.ops.get(k)
            ),
            "op_p50_s": statistics.median(self.op_s),
            "pass_cpu_s": statistics.mean(self.pass_cpu_s),
        }


def warm_passes(ctx, res: Result, seconds: float, run_pass) -> float:
    """Run ``run_pass(pass_no)`` for pass 1, 2, ... until ``seconds``
    have elapsed; record each pass's wall and, from the status API at
    the pass boundary, its executor CPU. Returns the window's wall."""
    ctx.status.wait_idle()
    cpu = ctx.status.executor_cpu_s()
    start = time.time()
    while time.time() - start < seconds:
        res.pass_s.append(run_pass(len(res.pass_s) + 1))
        ctx.status.wait_idle()
        now = ctx.status.executor_cpu_s()
        res.pass_cpu_s.append(now - cpu)
        cpu = now
    return time.time() - start


class Context:
    """One run's session, status reader, tracer and tally. Tracing hooks
    run only when ``trace`` is set; their own time is kept in
    ``hook_s`` so the run can report the tracing overhead."""

    def __init__(self, spark, tally: harness.Tally, work_dir: str, trace: bool):
        self.spark = spark
        self.status = SparkStatus(spark)
        self.tracer = harness.Tracer()
        self.tally = tally
        self.work_dir = work_dir
        self.trace = trace
        self.hook_s = 0.0

    def cursor(self) -> int:
        """Next job id, when tracing; otherwise 0."""
        if not self.trace:
            return 0
        t = time.perf_counter()
        j = self.status.next_job_id()
        self.hook_s += time.perf_counter() - t
        return j


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------


def load_expected(sf: float) -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh).get(str(sf), {})


def run_query(ctx: Context, name: str, sf_dir: str, trace_id: int):
    """Build, plan and execute one query through the registry; return
    ``(wall_s, build_s, (n, h))``. Failures raise."""
    from kaspi_etl_spark.registry import QUERIES

    t0, j0 = time.time(), ctx.cursor()
    df = QUERIES[name](ctx.spark, sf_dir)
    t1, j1 = time.time(), ctx.cursor()
    agg = checksum_frame(df)
    qe = agg._jdf.queryExecution()
    qe.executedPlan()
    t2, j2 = time.time(), ctx.cursor()
    row = agg.collect()[0]
    t3, j3 = time.time(), ctx.cursor()
    if ctx.trace:
        h = time.perf_counter()
        nodes = sum(1 for ln in qe.executedPlan().numberedTreeString().splitlines() if ln[:1].isdigit())
        tr = ctx.tracer
        q = tr.add("query", t0, t3, trace=trace_id, query=name)
        tr.add("build", t0, t1, q, trace_id, jobs=(j0, j1))
        tr.add("plan", t1, t2, q, trace_id, jobs=(j1, j2), nodes=nodes)
        tr.add("execute", t2, t3, q, trace_id, jobs=(j2, j3))
        ctx.hook_s += time.perf_counter() - h
    return t3 - t0, t1 - t0, (int(row["n"]), int(row["h"]))


def query_pass(ctx: Context, names, sf_dir: str, expected: dict, trace_id: int):
    """Run ``names`` in order. A query that raises or returns a wrong
    checksum is counted as failed and the pass goes on. Returns the
    pass wall and ``(name, wall_s, build_s)`` of each correct query."""
    start = time.time()
    done = []
    for name in names:
        try:
            wall, build, got = run_query(ctx, name, sf_dir, trace_id)
        except Exception as exc:  # noqa: BLE001 - a failed query is counted and the run goes on
            ctx.tally.fail(name, f"{type(exc).__name__}: {exc}")
            traceback.print_exc()
            continue
        diff = harness.compare_checksum(got, expected.get(name))
        if diff:
            ctx.tally.fail(name, diff)
            print(f"# {name}: {diff}", flush=True)
            continue
        ctx.tally.ok()
        done.append((name, wall, build))
    return time.time() - start, done


def run_query_workload(ctx: Context, wl: QueryWorkload, sf_dir: str, seed: int, seconds: float) -> Result:
    expected = load_expected(wl.sf)
    names = list(wl.queries)
    res = Result(ops_per_pass={n: 1 for n in names})
    # The cold pass and one unmeasured pass that lets JIT compilation
    # settle keep the listed order, so the seed does not change the
    # profile the JIT compiles from; the measured passes are shuffled.
    res.first_pass_s, done = query_pass(ctx, names, sf_dir, expected, 0)
    res.info["build_cold_s"] = sum(b for _, _, b in done)
    query_pass(ctx, names, sf_dir, expected, 0)
    ctx.tracer.spans.clear()  # per-layer numbers describe the window only
    ctx.hook_s = 0.0

    def warm(p: int) -> float:
        wall, done = query_pass(ctx, harness.pass_order(names, seed, p), sf_dir, expected, p)
        for name, w, _ in done:
            res.ops.setdefault(name, []).append(w)
        return wall

    window = warm_passes(ctx, res, seconds, warm)
    if ctx.trace:
        res.layers = span_layers(ctx, len(res.pass_s), window)
        res.layers["registry.build_cold_s"] = res.info["build_cold_s"]
        res.layers.update(self_times(ctx, len(res.pass_s)))
    return res


# ---------------------------------------------------------------------------
# Stream workload
# ---------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class StreamJobs:
    """Both stream jobs over one input directory, each started with a
    zero-second processing-time trigger and one file per micro-batch, so
    a file landed after the previous round is exactly one batch."""

    def __init__(self, spark, root: str) -> None:
        from kaspi_etl_spark.streaming import incremental as si

        self.src = os.path.join(root, "in")
        self.staging = os.path.join(root, "staging")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        self.state = {j: os.path.join(root, f"state_{j}") for j in STREAM_JOBS}
        writers = {
            "agg": si.incremental_agg_stream_job(
                spark, self.src, self.state["agg"], os.path.join(root, "ckpt_agg"),
                STREAM_SCHEMA, ["l_orderkey"], "l_quantity",
                trigger_seconds=0, max_files_per_trigger=1,
            ),
            "cms": si.cms_stream_job(
                spark, self.src, self.state["cms"], os.path.join(root, "ckpt_cms"),
                STREAM_SCHEMA, "token", trigger_seconds=0, max_files_per_trigger=1,
            ),
        }
        self.queries = {}
        for j, w in writers.items():
            self.queries[j] = w.start()
        self.progress: dict[str, list[dict]] = {j: [] for j in STREAM_JOBS}
        self.landed: list[str] = []

    def land(self, rows: list[dict]) -> int:
        """Publish the next input file atomically; return its size."""
        name = f"part-{len(self.landed):05d}.json"
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as fh:
            fh.writelines(json.dumps(r, separators=(",", ":")) + "\n" for r in rows)
        size = os.path.getsize(tmp)
        os.replace(tmp, os.path.join(self.src, name))
        self.landed.append(os.path.join(self.src, name))
        return size

    def wait_batch(self, batch_id: int, timeout: float = 120.0) -> None:
        """Block until both jobs report progress for ``batch_id``."""
        deadline = time.time() + timeout
        pending = set(STREAM_JOBS)
        while pending:
            for j in sorted(pending):
                q = self.queries[j]
                if q.exception() is not None:
                    raise RuntimeError(f"stream job {j} failed: {q.exception()}")
                p = q.lastProgress
                if p and p["batchId"] >= batch_id and p["numInputRows"] > 0:
                    self.progress[j].append(p)
                    pending.discard(j)
            if pending:
                if time.time() > deadline:
                    raise TimeoutError(f"batch {batch_id} not done by {sorted(pending)}")
                time.sleep(0.002)

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()


class StreamInput:
    """The stream's input: lineitem rows permuted by ``seed`` and split
    into ``n_files`` micro-batches. ``batch(i)`` builds the rows of file
    ``i`` only when it is about to land."""

    def __init__(self, lineitem_path: str, n_files: int, seed: int) -> None:
        import pyarrow.parquet as pq

        li = pq.read_table(lineitem_path, columns=["l_orderkey", "l_partkey", "l_quantity"])
        self.keys, self.parts, self.qty = (li.column(c).to_numpy() for c in li.column_names)
        self.splits = harness.split_batches(len(self.keys), n_files, seed)

    def batch(self, i: int) -> list[dict]:
        return [
            {"l_orderkey": int(self.keys[r]), "l_partkey": int(self.parts[r]),
             "l_quantity": int(self.qty[r]), "token": f"p{int(self.parts[r]) % 997}"}
            for r in self.splits[i]
        ]


def check_stream_state(spark, jobs: StreamJobs) -> str | None:
    """Compare both published states with a batch recompute over every
    landed row; ``None`` when they agree."""
    from kaspi_etl_spark.llm import sketch
    from kaspi_etl_spark.ops import incremental as inc

    rows = spark.read.schema(STREAM_SCHEMA).json(jobs.landed)
    want = {
        "agg": inc.partial_state(rows, ["l_orderkey"], "l_quantity"),
        "cms": sketch.cms_build(rows, "token"),
    }
    for j in STREAM_JOBS:
        have = spark.read.parquet(jobs.state[j])
        both = checksum_frame(have).crossJoin(
            checksum_frame(want[j].select(*have.columns)).toDF("n2", "h2")
        ).collect()[0]
        if (both["n"], both["h"]) != (both["n2"], both["h2"]):
            return (f"{j} state {(both['n'], both['h'])} differs from its batch "
                    f"recompute {(both['n2'], both['h2'])}")
    return None


def run_stream_workload(ctx: Context, wl: StreamWorkload, sf_dir: str, seed: int, seconds: float) -> Result:
    res = Result(ops={"round": []}, ops_per_pass={"round": wl.rounds_per_pass})
    t = time.time()
    source = StreamInput(os.path.join(sf_dir, "lineitem.parquet"), wl.n_files, seed)
    jobs = StreamJobs(ctx.spark, os.path.join(ctx.work_dir, "stream"))
    res.info["start_s"] = time.time() - t
    in_bytes = 0
    written = {j: 0 for j in STREAM_JOBS}

    def one_pass(warm: bool) -> float:
        nonlocal in_bytes
        start = time.time()
        for _ in range(wl.rounds_per_pass):
            r = len(jobs.landed)
            if r == wl.n_files:
                raise RuntimeError("stream input exhausted; raise n_files")
            t0, j0 = time.time(), ctx.cursor()
            size = jobs.land(source.batch(r))
            jobs.wait_batch(r)
            t1, j1 = time.time(), ctx.cursor()
            ctx.tally.ok()
            if not warm:
                continue
            res.ops["round"].append(t1 - t0)
            in_bytes += size
            if ctx.trace:
                h = time.perf_counter()
                rnd = ctx.tracer.add("round", t0, t1, trace=r)
                ctx.tracer.add("execute", t0, t1, rnd, r, jobs=(j0, j1))
                for j in STREAM_JOBS:
                    written[j] += _dir_bytes(jobs.state[j])
                ctx.hook_s += time.perf_counter() - h
        return time.time() - start

    try:
        res.first_pass_s = one_pass(False)
        one_pass(False)  # unmeasured, as in the query workloads
        warm_from = len(jobs.landed)
        first_warm_job = ctx.cursor()
        ctx.hook_s = 0.0
        window = warm_passes(ctx, res, seconds, lambda p: one_pass(True))
    finally:
        jobs.stop()
    ctx.status.wait_idle()
    t = time.time()
    try:
        diff = check_stream_state(ctx.spark, jobs)
    except Exception as exc:  # noqa: BLE001 - reported as a failed check
        diff = f"state check raised {type(exc).__name__}: {exc}"
    if diff:
        ctx.tally.fail("stream_state", diff)
        print(f"# {diff}", flush=True)
    res.info.update(files=len(jobs.landed), rows_per_file=len(source.splits[0]),
                    state_check_s=time.time() - t)
    if ctx.trace:
        res.layers = span_layers(ctx, len(res.pass_s), window)
        res.layers.update(stream_layers(ctx, jobs, warm_from, first_warm_job, in_bytes, written))
        res.layers.update(self_times(ctx, len(res.pass_s)))
    return res


def _progress_epoch(stamp: str) -> float:
    t = dt.datetime.strptime(stamp.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def stream_layers(ctx: Context, jobs: StreamJobs, warm_from: int, first_warm_job: int,
                  in_bytes: int, written: dict[str, int]) -> dict[str, float]:
    """Per-micro-batch stream metrics of the warm rounds from each job's
    progress reports and state directory; adds one ``batch`` span per
    report with its phases as children."""
    out: dict[str, float] = {}
    tracker = ctx.spark.sparkContext.statusTracker()
    for j in STREAM_JOBS:
        warm = [p for p in jobs.progress[j] if p["batchId"] >= warm_from]
        for p in warm:
            cur = _progress_epoch(p["timestamp"])
            b = ctx.tracer.add("batch", cur, cur + p["durationMs"]["triggerExecution"] / 1e3,
                               trace=p["batchId"])
            for phase, keys in STREAM_PHASES.items():
                d = sum(p["durationMs"].get(k, 0) for k in keys) / 1e3
                ctx.tracer.add(f"stream_{phase}", cur, cur + d, b, p["batchId"])
                cur += d
        for phase, keys in STREAM_PHASES.items():
            ms = sum(p["durationMs"].get(k, 0) for p in warm for k in keys)
            out[f"stream.{j}.{phase}_s"] = ms / 1e3 / len(warm)
        # stream jobs run under a job group named after the query's run id
        ids = tracker.getJobIdsForGroup(str(jobs.queries[j].runId))
        warm_jobs = [i for i in ids if i >= first_warm_job]
        out[f"stream.{j}.jobs_per_batch"] = len(warm_jobs) / len(warm)
        out[f"stream.{j}.state_mb"] = _dir_bytes(jobs.state[j]) / 2**20
        out[f"stream.{j}.write_amp"] = written[j] / in_bytes
    return out


# ---------------------------------------------------------------------------
# Span resolution shared by both kinds of workload
# ---------------------------------------------------------------------------


def span_layers(ctx: Context, n_passes: int, window_s: float) -> dict[str, float]:
    """Per-layer metrics per warm pass from the recorded spans. Each span
    that carries a job-id range gets one child ``stage`` span per stage
    those jobs ran, with the stage's metrics from the status API."""
    ctx.status.wait_idle()
    tr = ctx.tracer
    cores = ctx.spark.sparkContext.defaultParallelism
    out = {k: 0.0 for k in ("registry.build_s", "registry.build_jobs", "registry.build_job_s",
                            "catalyst.plan_s", "catalyst.plan_nodes")}
    ex = {k: 0.0 for k in EXEC_FIELDS}
    named = {q: {k: 0.0 for k in NAMED_FIELDS} for q in NAMED_QUERIES}
    for idx, span in enumerate(list(tr.spans)):
        if "jobs" not in span.attrs:
            continue
        a, b = span.attrs["jobs"]
        stages = [st for st in map(ctx.status.stage, ctx.status.stage_ids(a, b)) if st]
        intervals = []
        for st in stages:
            lo, hi = max(st["start"], span.start), min(st["end"], span.end)
            intervals.append((lo, hi))
            tr.add("stage", lo, hi, idx, span.trace)
        busy = harness.covered(intervals, span.start, span.end)
        sums = {k: sum(st[k] for st in stages) for k in
                ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                 "spill_mb", "input_mb")}
        parent = tr.spans[span.parent] if span.parent is not None else None
        query = parent.attrs.get("query") if parent else None
        if query in named:
            key = "exec_s" if span.name == "execute" else f"{span.name}_s"
            named[query][key] += span.dur
            for k in ("cpu_s", "tasks", "shuffle_write_mb"):
                named[query][k] += sums[k]
        if span.name == "build":
            out["registry.build_s"] += span.dur
            out["registry.build_jobs"] += b - a
            out["registry.build_job_s"] += busy
        elif span.name == "plan":
            out["catalyst.plan_s"] += span.dur
            out["catalyst.plan_nodes"] += span.attrs["nodes"]
        elif span.name == "execute":
            ex["s"] += span.dur
            ex["jobs"] += b - a
            ex["stages"] += len(stages)
            ex["sched_gap_s"] += span.dur - busy
            for k, v in sums.items():
                ex[k] += v
    ex["busy_frac"] = ex["run_s"] / (ex["s"] * cores) if ex["s"] else 0.0
    for k, v in ex.items():
        out[f"exec.{k}"] = v
    for q, vals in named.items():
        for k, v in vals.items():
            out[f"{q}.{k}"] = v
    out = {k: (v / n_passes if k != "exec.busy_frac" else v) for k, v in out.items()}
    out["trace.hook_s"] = ctx.hook_s / n_passes
    out["trace.overhead_frac"] = ctx.hook_s / window_s
    return out


def self_times(ctx: Context, n_passes: int) -> dict[str, float]:
    """Self time per span name and warm pass, once every span is in."""
    return {f"self.{name}_s": own / n_passes for name, own in ctx.tracer.self_time_by_name().items()}
