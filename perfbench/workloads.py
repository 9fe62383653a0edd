"""The benchmark workloads: each is one closed-loop client thread.

  bulk_replay         drain a backlog with run_ingest(mode="mor") in two
                      large triggers, then compact()
  serve_under_ingest  merge_into(mode="mor") epochs alternating with a
                      seeded mix of reads, and incremental compaction every
                      few epochs

The engine is driven only through public functions, looked up on their
modules at call time so that the traced run's wrappers see every call.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import json
import multiprocessing
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from forklift_spark import changelog
from forklift_spark.operators import changes, merge
from forklift_spark.sqlfront import SqlFrontend
from forklift_spark.streaming import ingest

from .oracle import DIGESTS, KEY, PrefixOracle, check_read, segment_events

#: key space and event shape shared by every workload: 50 repos x 200
#: paths, 20% of events on one hot repo, 2% duplicate delivery, disorder
#: window 512, bodies of ~0.7 KB
BASE_SPEC = dict(
    n_repos=50,
    paths_per_repo=200,
    hot_repo_fraction=0.2,
    duplicate_fraction=0.02,
    disorder_window=512,
    content_tokens_max=96,
)
N_BUCKETS = 8
#: generated logs of one workload kept under the input cache
CACHE_KEEP = 12
#: child processes that generate a log's chunks and the generator's oracle
GEN_WORKERS = 3
SETUP_REPEATS = 3
#: the seeded read mix of one round
READ_ROUND = ("point", "range", "scan", "changes", "sql")
#: how many versions back a `changes_since` read starts
CHANGES_SPAN = 3
#: a drain is two triggers of one 500k-event chunk (8 segments) each, plus
#: compact(): at this size a trigger's fixed cost (~0.85 s on the reference
#: box) is a small share
BULK = dict(n_events=1_000_000, chunk_events=500_000, segments_per_chunk=8)
#: set-up drains the log's first WARM_SEGMENTS this often, so the scan,
#: exchange and writer loops are compiled at batch scale before timing
WARM_DRAINS = 2
WARM_SEGMENTS = 4
#: a loop runs for the run's seconds and at least this much work, so a
#: slow stretch of the host does not also cut a run's sample count
MIN_DRAINS = 1
MIN_CYCLES = 2
SERVE = dict(chunk=2_000, preload_chunks=12, chunks=24, compact_every=2)


def repo_name(i: int) -> str:
    return f"repo_{i:04d}"


def path_name(j: int) -> str:
    return f"src/mod_{j:04d}.py"


# ---------------------------------------------------------------- inputs


@dataclass
class Log:
    """A generated change log: `chunks[i]` lists chunk i's segment files;
    the state after k chunks is `expected_final_state_chunked` of `spec`
    with n_events = k * chunk_events."""

    spec: changelog.ChangelogSpec
    chunk_events: int
    chunks: list[list[str]]

    @property
    def segments(self) -> list[str]:
        return [p for c in self.chunks for p in c]

    def spec_at(self, k: int) -> changelog.ChangelogSpec:
        n = min(self.spec.n_events, k * self.chunk_events)
        return dataclasses.replace(self.spec, n_events=n)

    def chunks_in(self, n_segments: int) -> int | None:
        """k when the first n segments are exactly the first k chunks."""
        total = 0
        for k, c in enumerate(self.chunks, 1):
            total += len(c)
            if total == n_segments:
                return k
        return None

    def expected(self, k: int) -> pd.DataFrame:
        """`expected_final_state_chunked` after k chunks, computed once and
        kept next to the log (it regenerates every event, ~8 s per million)."""
        path = _expected_path(os.path.dirname(self.segments[0]), k)
        if not os.path.exists(path):
            _write_expected(self.spec_at(k), self.chunk_events, path)
        return pd.read_parquet(path)


def _expected_path(log_dir: str, k: int) -> str:
    return os.path.join(log_dir, f"expected-{k}.parquet")


def _write_expected(spec: changelog.ChangelogSpec, chunk_events: int, path: str) -> None:
    exp = changelog.expected_final_state_chunked(spec, chunk_events=chunk_events)
    exp.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)


def _generate_chunk(spec: changelog.ChangelogSpec, i: int, chunk_events: int, part_dir: str) -> None:
    """Chunk i of `generate_changelog_chunked(spec, chunk_events=...)`: it
    draws from seed + i, with sequence numbers offset by i * chunk_events.
    Each segment gets the read oracle's digests of its events beside it."""
    done = i * chunk_events
    sub = dataclasses.replace(
        spec, n_events=min(chunk_events, spec.n_events - done),
        seed=spec.seed + i, seq_start=spec.seq_start + done,
    )
    for seg in changelog.generate_changelog(sub, part_dir).segments:
        segment_events(seg).to_parquet(seg + DIGESTS)


def _in_children(calls: list[tuple]) -> None:
    """Run each (function, *args) in a forked child process, GEN_WORKERS at
    a time, and wait for all of them; raise if one fails."""
    ctx = multiprocessing.get_context("fork")
    todo, running, failed = list(calls), [], 0
    while todo or running:
        while todo and len(running) < GEN_WORKERS:
            fn, *args = todo.pop(0)
            running.append(ctx.Process(target=fn, args=tuple(args)))
            running[-1].start()
        p = running.pop(0)
        p.join()
        failed += p.exitcode != 0
    if failed:
        raise RuntimeError(f"{failed} log generation processes failed")


def _generate(
    path: str, spec: changelog.ChangelogSpec, chunk_events: int, oracle_at: tuple[int, ...] = ()
) -> Log:
    """Generate once per (spec, chunking) under `path`; later runs reuse it.
    The chunks, and the generator's oracle for the first k chunks for each
    k in `oracle_at`, are computed in child processes."""
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        n_chunks = -(-spec.n_events // chunk_events)
        parts = [os.path.join(path, f"part-{i}") for i in range(n_chunks)]
        _in_children(
            [(_write_expected, dataclasses.replace(spec, n_events=min(spec.n_events, k * chunk_events)),
              chunk_events, _expected_path(path, k)) for k in oracle_at]
            + [(_generate_chunk, spec, i, chunk_events, part) for i, part in enumerate(parts)]
        )
        chunks, segs = [], []
        for part in parts:
            names = []
            for f in sorted(f for f in os.listdir(part) if f.endswith(".parquet")):
                names.append(f"seg-{len(segs) + len(names):05d}.parquet")
                for suffix in ("", DIGESTS):
                    os.replace(os.path.join(part, f + suffix), os.path.join(path, names[-1] + suffix))
            os.rmdir(part)
            segs += names
            chunks.append(names)
        # a file stream source takes the oldest files first: delivery order
        t0 = time.time() - len(segs)
        for j, name in enumerate(segs):
            os.utime(os.path.join(path, name), (t0 + j, t0 + j))
        with open(manifest + ".tmp", "w") as f:
            json.dump({"chunks": chunks}, f)
        os.replace(manifest + ".tmp", manifest)
    with open(manifest) as f:
        chunks = json.load(f)["chunks"]
    return Log(spec, chunk_events, [[os.path.join(path, n) for n in c] for c in chunks])


def prepare_inputs(
    workload: str, seed: int, cache: str, traced: bool
) -> tuple[dict[str, Log], float]:
    """Every log a run of `workload` needs, and the seconds spent generating
    (0 when all came from the cache). Keeps the CACHE_KEEP newest logs of
    each workload."""
    t0 = time.monotonic()
    logs: dict[str, Log] = {}

    def get(name: str, spec: changelog.ChangelogSpec, chunk_events: int, oracle_at=()) -> None:
        key = hashlib.sha1(repr((spec, chunk_events)).encode()).hexdigest()[:12]
        logs[name] = _generate(os.path.join(cache, f"{name}-s{seed}-{key}"), spec, chunk_events, oracle_at)

    if workload == "bulk_replay" or traced:
        # every traced run also replays bulk_replay's log at local[1]
        bulk = changelog.ChangelogSpec(
            n_events=BULK["n_events"],
            # duplicates add ~2% rows; keep BULK["segments_per_chunk"]
            segment_rows=-(-BULK["chunk_events"] * 105 // 100 // BULK["segments_per_chunk"]),
            seed=seed, **BASE_SPEC,
        )
        # the traced run also drains the first chunk alone
        get("bulk_replay", bulk, BULK["chunk_events"], oracle_at=(1, 2) if traced else (2,))
    if workload == "serve_under_ingest":
        p = SERVE
        spec = changelog.ChangelogSpec(
            n_events=p["chunk"] * (p["preload_chunks"] + p["chunks"]),
            # one segment per chunk: a chunk delivers at most ~1.02 x chunk rows
            segment_rows=2 * p["chunk"],
            seed=seed + 1, **BASE_SPEC,
        )
        get(workload, spec, p["chunk"])
    gen_s = time.monotonic() - t0
    for name, lg in logs.items():
        _evict(cache, name, CACHE_KEEP, used=os.path.dirname(lg.segments[0]))
    return logs, gen_s


def _evict(cache: str, name: str, keep: int, used: str) -> None:
    """Keep the `keep` newest logs of workload `name`, and `used`."""
    os.utime(used)
    dirs = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache) if d.startswith(f"{name}-s")),
        key=os.path.getmtime, reverse=True,
    )
    for d in dirs[keep:]:
        if d != used:
            shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------- results


@dataclass
class LoopResult:
    """What one measured loop did, for the metrics and the output checks."""

    table: object = None
    log: Log | None = None
    #: table version -> number of log chunks committed at that version
    version_chunks: dict[int, int] = field(default_factory=dict)
    chunks_done: int = 0
    #: every (table, chunks) whose final state must match the oracle
    to_verify: list = field(default_factory=list)
    epoch_latency: list[float] = field(default_factory=list)
    #: (rows, seconds) of every streaming trigger
    triggers: list[tuple[int, float]] = field(default_factory=list)
    reads: list[dict] = field(default_factory=list)
    events: int = 0
    ingest_wall: float = 0.0
    applied_rows: int = 0
    rows_rewritten: int = 0
    compact_rows: int = 0
    compactions: int = 0
    #: (events, seconds) of every bulk drain
    drains: list[tuple[int, float]] = field(default_factory=list)
    epoch_failures: list[str] = field(default_factory=list)
    #: (bytes under the table root, chunks committed) at a point of the
    #: loop that every run reaches after the same amount of work
    storage: tuple[int, int] = (0, 0)
    live_bytes: int = 0

    def account(self, st) -> None:
        self.applied_rows += st.applied_rows
        self.rows_rewritten += st.rows_rewritten


def dir_bytes(root: str, sub: str | None = None) -> int:
    total = 0
    for d, _, files in os.walk(os.path.join(root, sub) if sub else root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------- context


class Bench:
    """One benchmark process: the session, its logs and the client loop."""

    def __init__(self, spark, tracer, listener, logs, run_dir, seed, seconds, workload):
        self.spark = spark
        self.tracer = tracer
        self.listener = listener
        self.logs = logs
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.workload = workload
        self._n = 0

    def fresh_dir(self, name: str) -> str:
        self._n += 1
        d = os.path.join(self.run_dir, f"{name}-{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def link_segments(self, name: str, paths: list[str]) -> str:
        """A fresh directory holding hard links to `paths`: a stream source
        that delivers only those segments."""
        src = self.fresh_dir(name)
        os.makedirs(src)
        for p in paths:
            os.link(p, os.path.join(src, os.path.basename(p)))
        return src

    def new_table(self, name: str):
        t = ingest.create_entity_table(self.fresh_dir(name), n_buckets=N_BUCKETS)
        return t, int(t.stats()["version"])

    def triggers(self, n: int) -> list[dict]:
        """Progress of the last n triggers; as spans when tracing."""
        self.listener.wait_for(n)
        events = self.listener.take()
        if self.tracer.enabled:
            for e in events:
                start = dt.datetime.fromisoformat(
                    e["timestamp"].replace("Z", "+00:00")
                ).timestamp()
                ms = e["duration_ms"]
                self.tracer.add_span(
                    "streaming.trigger", start, start + ms.get("triggerExecution", 0) / 1000,
                    rows=e["rows"], duration_ms=ms,
                )
        return events

    # ------------------------------------------------------------ compaction

    def compact(self, res: LoopResult, table, buckets: list[int] | None) -> dict:
        """compact() with the rows it rewrites, read from table.stats()
        (compact's own result does not report them)."""
        st = table.stats()
        if buckets is None:
            rows = st["total_rows"]
        else:
            rows = sum(st["buckets"].get(b, {}).get("rows", 0) for b in buckets)
        with self.tracer.span("op.compact", counters=True, rows=rows):
            out = merge.compact(self.spark, table, buckets=buckets)
        res.compact_rows += rows
        res.compactions += 1
        return out

    # ------------------------------------------------------------ reads

    def read_args(self, rng: random.Random, kind: str, res: LoopResult, version: int) -> dict:
        if kind == "point":
            i = 0 if rng.random() < BASE_SPEC["hot_repo_fraction"] else rng.randrange(1, 50)
            return {"repo": repo_name(i), "path": path_name(rng.randrange(200))}
        if kind == "range":
            i = rng.randrange(48)
            return {"lo": repo_name(i), "hi": repo_name(i + 2)}
        if kind == "sql":
            i = rng.randrange(46)
            return {"lo": repo_name(i), "hi": repo_name(i + 4)}
        if kind == "changes":
            older = sorted(v for v in res.version_chunks if v < version)
            return {"from": older[-CHANGES_SPAN] if len(older) >= CHANGES_SPAN else older[0]}
        return {}

    def read(self, table, kind: str, args: dict, version: int, fe: SqlFrontend) -> dict:
        """One read, timed from the call to a fully collected result."""
        rec = {"type": kind, "args": args, "version": version}
        spark = self.spark
        with self.tracer.span(f"read.{kind}", counters=True) as a:
            t0 = time.perf_counter()
            try:
                if kind == "point":
                    rows = table.snapshot(spark, col_eq={"repo": args["repo"], "path": args["path"]}).collect()
                    out = [(r["seq"], r["content_sha"]) for r in rows]
                elif kind == "range":
                    rows = table.snapshot(spark, key_range=(args["lo"], args["hi"])).collect()
                    out = [(r["repo"], r["path"], r["seq"], r["content_sha"]) for r in rows]
                elif kind == "scan":
                    r = table.snapshot(spark).agg(
                        F.count(F.lit(1)), F.sum(F.length("content")), F.sum("seq")
                    ).collect()[0]
                    out = [int(r[0]), int(r[1] or 0), int(r[2] or 0)]
                elif kind == "changes":
                    cur, df = changes.changes_since(spark, table, args["from"])
                    rows = df.select("change", *KEY, "seq").collect()
                    out = [tuple(r) for r in rows]
                    a["rows"] = len(out)
                    if cur != version:
                        rec["error"] = f"changes_since saw version {cur}, expected {version}"
                else:
                    stmt = (
                        "SELECT lang, COUNT(*) AS n, SUM(LENGTH(content)) AS b FROM entity "
                        f"WHERE repo BETWEEN '{args['lo']}' AND '{args['hi']}' GROUP BY lang"
                    )
                    with self.tracer.span("sqlfront.compile"):
                        df = fe.sql(stmt)
                    with self.tracer.span("sqlfront.execute"):
                        out = [(r["lang"], int(r["n"]), int(r["b"])) for r in df.collect()]
            except Exception as exc:  # a failed read is counted, the loop goes on
                traceback.print_exc()
                rec["error"] = f"{type(exc).__name__}: {exc}"
                out = None
            rec["latency"] = time.perf_counter() - t0
        rec["result"] = out
        return rec

    def read_round(self, res: LoopResult, table, version: int, rng: random.Random, fe) -> None:
        for kind in READ_ROUND:
            res.reads.append(self.read(table, kind, self.read_args(rng, kind, res, version), version, fe))

    def read_rng(self, tag: str) -> random.Random:
        return random.Random(f"{self.seed}-{self.workload}-{tag}")

    # ------------------------------------------------------------ set-up

    def preload(self, log: Log, chunks: int, schema):
        """A fresh table loaded copy-on-write with the log's first `chunks`
        chunks in one merge_into."""
        table, v0 = self.new_table(self.workload)
        paths = [p for c in log.chunks[:chunks] for p in c]
        df = self.spark.read.schema(schema).parquet(*paths)
        st = merge.merge_into(self.spark, table, df, query_id="preload", epoch=0, mode="cow")
        return table, {v0: 0, int(st.version): chunks}

    def warm_reads(self, table) -> None:
        """One unchecked read round, so the read paths' first-call costs
        land in set-up, not in the first timed reads."""
        res = LoopResult(version_chunks={h["version"]: 0 for h in table.history()})
        v = int(table.stats()["version"])
        self.read_round(res, table, v, self.read_rng("warm"), SqlFrontend(self.spark, {"entity": table}))


# ---------------------------------------------------------------- workloads


class BulkReplay:
    name = "bulk_replay"

    def warm_up(self, b: Bench, state) -> None:
        """Untimed one-trigger drains of the log's first segments, then
        reads of the last table: the first large trigger in a process takes
        about twice as long (JIT of the scan, exchange and writer loops),
        and the next ones are still ~15% slower, so they belong to set-up.
        `state` is not used: every drain creates its own table."""
        log = b.logs[self.name]
        res = LoopResult()
        for _ in range(WARM_DRAINS):
            self.run_once(b, log, res, name="warm", prefix=WARM_SEGMENTS)
        b.warm_reads(res.table)

    def setup(self, b: Bench):
        """Every drain of the loop creates its own table."""
        return b.new_table(self.name)

    def run_once(
        self, b: Bench, log: Log, res: LoopResult, name: str = "bulk", prefix: int | None = None
    ) -> float:
        """One drain of the whole backlog plus compact(); returns events/s.
        With `prefix`, only the log's first `prefix` segments are drained;
        the table is checked when they make up whole chunks."""
        if prefix is None:
            src, k = os.path.dirname(log.segments[0]), len(log.chunks)
        else:
            src, k = b.link_segments(name, log.segments[:prefix]), log.chunks_in(prefix)
        table, v0 = b.new_table(name)
        ckpt = b.fresh_dir(f"{name}-ckpt")
        with b.tracer.span("op.bulk_replay", counters=True):
            t0 = time.perf_counter()
            rep = ingest.run_ingest(
                b.spark, src, table, ckpt,
                query_id=name, max_files_per_trigger=BULK["segments_per_chunk"],
                mode="mor", dedupe_in_batch=False, salt_buckets=None,
            )
            out = b.compact(res, table, None)
            wall = time.perf_counter() - t0
        events = sum(s.batch_rows for s in rep.epochs)
        for s in rep.epochs:
            res.account(s)
        trig = b.triggers(len(rep.epochs))
        res.epoch_latency += [e["duration_ms"].get("triggerExecution", 0) / 1000 for e in trig]
        res.triggers += [(e["rows"], e["duration_ms"].get("triggerExecution", 0) / 1000) for e in trig]
        res.events += events
        res.ingest_wall += wall
        res.drains.append((events, wall))
        res.table, res.log = table, log
        if prefix is None:
            res.storage = (dir_bytes(table.root), k)
        if k is not None:
            res.version_chunks = {v0: 0, int(out["version"]): k}
            res.chunks_done = k
            res.to_verify.append((table, log, k))
        return events / wall

    def loop(self, b: Bench, state) -> LoopResult:
        res = LoopResult()
        log = b.logs["bulk_replay"]
        t_end = time.monotonic() + b.seconds
        while True:
            self.run_once(b, log, res)
            if time.monotonic() >= t_end and len(res.drains) >= MIN_DRAINS:
                return res

    readback = True


class ServeUnderIngest:
    name = "serve_under_ingest"

    def setup(self, b: Bench):
        return b.preload(b.logs[self.name], SERVE["preload_chunks"], ingest.CHANGELOG_SCHEMA)

    def warm_up(self, b: Bench, state) -> None:
        """One untimed cycle on the first set-up's table, so the merge,
        dirty-read and compaction paths are warm before timing starts."""
        self.loop(b, state, cycles=1)

    def loop(self, b: Bench, state, cycles: int | None = None) -> LoopResult:
        """Cycles of k epochs, each epoch followed by a read round, and one
        incremental compaction closing the cycle. Reads therefore always see
        1..k epochs of merge-on-read deltas. The loop stops only at a cycle
        boundary, so every run covers whole cycles and write amplification
        and storage stay comparable between runs; `cycles` fixes the count
        (the untimed warm-up cycle)."""
        table, vc = state
        log = b.logs[self.name]
        first = SERVE["preload_chunks"]
        res = LoopResult(table=table, log=log, version_chunks=dict(vc), chunks_done=first)
        fe = SqlFrontend(b.spark, {"entity": table})
        rng = b.read_rng("serve")
        t_end = time.monotonic() + b.seconds
        k = SERVE["compact_every"]
        e = 0
        while first + e < len(log.chunks):
            if e % k == 0 and (
                e >= cycles * k if cycles
                else time.monotonic() >= t_end and e >= MIN_CYCLES * k
            ):
                break
            df = b.spark.read.schema(ingest.CHANGELOG_SCHEMA).parquet(*log.chunks[first + e])
            with b.tracer.span("op.serve_epoch", counters=True):
                t0 = time.perf_counter()
                st = merge.merge_into(b.spark, table, df, query_id="serve", epoch=e, mode="mor")
                lat = time.perf_counter() - t0
            e += 1
            res.chunks_done = first + e
            res.version_chunks[int(st.version)] = res.chunks_done
            res.epoch_latency.append(lat)
            res.ingest_wall += lat
            res.events += st.batch_rows
            res.account(st)
            b.read_round(res, table, int(st.version), rng, fe)
            if e % k == 0:
                cands = merge.select_compaction_candidates(table)
                if cands:
                    t0 = time.perf_counter()
                    out = b.compact(res, table, cands)
                    res.ingest_wall += time.perf_counter() - t0
                    res.version_chunks[int(out["version"])] = res.chunks_done
                if res.storage == (0, 0):
                    res.storage = (dir_bytes(table.root), res.chunks_done)
        res.to_verify.append((table, log, res.chunks_done))
        return res

    readback = False


WORKLOADS = {w.name: w for w in (BulkReplay(), ServeUnderIngest())}

#: read rounds of the read-back that follows bulk_replay
READBACK_ROUNDS = 2


def readback(b: Bench, res: LoopResult) -> None:
    """Reads of the table the ingest loop left behind (bulk_replay;
    serve_under_ingest reads inside its loop)."""
    version = max(res.version_chunks)
    fe = SqlFrontend(b.spark, {"entity": res.table})
    rng = b.read_rng("readback")
    for _ in range(READBACK_ROUNDS):
        b.read_round(res, res.table, version, rng, fe)


# ---------------------------------------------------------------- checks


def check(b: Bench, res: LoopResult) -> list[str]:
    """Output checks, outside every timed interval: each final table against
    the generator's oracle with verify_state, and each read against the
    pandas state of the version it read. Returns failure reasons; failed
    reads are marked in their records. Sets `res.live_bytes`, the live
    content bytes at the storage probe."""
    failures = list(res.epoch_failures)
    oracle = PrefixOracle(res.log.chunks[: res.chunks_done])
    expected = {}
    for table, log, k in res.to_verify:
        if k not in expected:
            exp = log.expected(k)
            # the read oracle must agree with the generator's own oracle
            mine = oracle.live(k)
            if sorted(zip(mine.index, mine["seq"])) != sorted(
                zip(zip(exp["repo"], exp["path"]), exp["seq"])
            ):
                failures.append(f"read oracle disagrees with expected_final_state_chunked at {k} chunks")
            expected[k] = b.spark.createDataFrame(exp[KEY + ["content"]])
        ver = ingest.verify_state(b.spark, table, expected[k])
        if not ver["ok"]:
            failures.append(f"final state of {table.root}: {ver}")
    for rec in res.reads:
        why = rec.get("error") or check_read(oracle, rec, res.version_chunks)
        if why:
            rec["failed"] = why
            failures.append(why)
    res.live_bytes = int(oracle.live(res.storage[1])["clen"].sum())
    return failures
