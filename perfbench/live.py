"""medallion_live: an open-loop generator lands seeded parquet event files
on a fixed tick while the engine's bronze, silver and gold streams run in
follow mode. Latency is read afterwards from outside the engine, from each
checkpoint's file-source log and commit files."""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])
# The four non-windowed sinks a landed file must reach; gold is windowed
# and measured per window instead.
ROW_SINKS = ("bronze_valid", "bronze_rejected", "silver_valid", "silver_rejected")
GOLD_SINK = "gold_metrics"
GOLD_COLS = ("window_start", "window_end", "avg_click_value", "max_view_value", "max_error_value")


def make_events(rng: np.random.Generator, first_id: int, n: int, t_lo: float, t_hi: float) -> pa.Table:
    """``n`` events with ids from ``first_id`` and event times in [t_lo, t_hi]
    (epoch seconds, stored naive UTC like the fixture). About 1% of values
    are null, so bronze rejects rows too; the value tail crosses the silver
    range rules."""
    ts_us = (rng.uniform(t_lo, t_hi, n) * 1e6).astype("int64")
    values = np.round(rng.exponential(50.0, n), 2)
    null = rng.random(n) < 0.01
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype="int64")),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, 1600, n, dtype="int64")),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)].tolist()),
        "value": pa.array(values, mask=null),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }, schema=EVENTS_SCHEMA)


class Generator:
    """Lands one file per tick on a fixed schedule that never waits for the
    engine. Each file's events carry times up to its due time, and its
    latency is measured from that due time, so a late generator shows up
    as latency too (and separately as lateness)."""

    def __init__(self, landing: str, seed: int, rate: int, tick: float) -> None:
        self.landing = landing
        self.rng = np.random.default_rng(seed)
        self.rows_per_file = max(1, int(round(rate * tick)))
        self.tick = tick
        self.next_id = 0
        self.landed: dict[str, dict] = {}  # file name -> {due, landed, rows, warmup}
        self._seq = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def land(self, due: float, warmup: bool = False) -> None:
        t = make_events(self.rng, self.next_id, self.rows_per_file, due - self.tick, due)
        self.next_id += t.num_rows
        name = f"events_{self._seq:06d}.parquet"
        self._seq += 1
        tmp = os.path.join(self.landing, f".{name}.tmp")
        pq.write_table(t, tmp)
        os.rename(tmp, os.path.join(self.landing, name))
        self.landed[name] = {"due": due, "landed": time.time(), "rows": t.num_rows,
                             "warmup": warmup}

    def start(self, seconds: float) -> None:
        t0 = time.time() + self.tick
        n = int(seconds / self.tick)

        def loop():
            for i in range(n):
                due = t0 + i * self.tick
                if self._stop.wait(max(0.0, due - time.time())):
                    return
                self.land(due)

        self._thread = threading.Thread(target=loop, name="perfbench-generator", daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()

    def stop(self) -> None:
        self._stop.set()
        self.join()


# --- reading checkpoints from outside ---------------------------------------

def _log_entries(log_dir: str):
    """JSON entries of a Spark metadata log dir (delta files ``N`` and
    ``N.compact`` snapshots), skipping the version header line."""
    for path in glob.glob(os.path.join(log_dir, "*")):
        base = os.path.basename(path)
        if base.startswith(".") or not base.split(".")[0].isdigit():
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    yield json.loads(line)


def source_batches(chk_dir: str) -> dict[str, int]:
    """File name -> micro-batch id that read it, from ``sources/0``."""
    return {os.path.basename(e["path"]): int(e["batchId"])
            for e in _log_entries(os.path.join(chk_dir, "sources", "0"))}


def commit_times(chk_dir: str) -> dict[int, float]:
    """Micro-batch id -> commit time (mtime of ``commits/<id>``)."""
    out = {}
    for path in glob.glob(os.path.join(chk_dir, "commits", "*")):
        base = os.path.basename(path)
        if base.isdigit():
            out[int(base)] = os.path.getmtime(path)
    return out


def file_commit_time(chk_dirs: list[str], name: str, cache: dict | None = None) -> float | None:
    """When the last of ``chk_dirs`` committed the batch that read ``name``;
    None while any of them has not."""
    worst = None
    for chk in chk_dirs:
        if cache is not None and chk in cache:
            batches, commits = cache[chk]
        else:
            batches, commits = source_batches(chk), commit_times(chk)
            if cache is not None:
                cache[chk] = (batches, commits)
        b = batches.get(name)
        if b is None or b not in commits:
            return None
        worst = commits[b] if worst is None else max(worst, commits[b])
    return worst


def sink_files(sink_dir: str) -> list[str]:
    """Committed data files of a file sink, from its ``_spark_metadata`` log."""
    paths = {e["path"] for e in _log_entries(os.path.join(sink_dir, "_spark_metadata"))
             if e.get("action", "add") == "add"}
    return sorted(urlparse(p).path for p in paths)


def backlog_max(files: dict[str, dict], done: dict[str, float | None]) -> int:
    """Largest number of landed files not yet committed by every sink, seen
    at any file's landing time."""
    worst = 0
    for info in files.values():
        t = info["landed"]
        waiting = sum(1 for n, f in files.items()
                      if f["landed"] <= t and (done.get(n) is None or done[n] > t))
        worst = max(worst, waiting)
    return worst


# --- the workload ------------------------------------------------------------

class LiveRun:
    """Holds the directories, generator and streams of one live run."""

    def __init__(self, spark, work_dir: str, fixture_dir: str, seed: int, rate: int,
                 tick: float, window_s: int, watermark_s: int) -> None:
        self.spark = spark
        self.landing = os.path.join(work_dir, "landing")
        self.out = os.path.join(work_dir, "out")
        os.makedirs(self.landing)
        os.makedirs(self.out)
        # run_silver joins the stream with the customer dimension it reads
        # from the same directory as the events.
        shutil.copy(os.path.join(fixture_dir, "customer.parquet"), self.landing)
        self.gen = Generator(self.landing, seed, rate, tick)
        self.window_s, self.watermark_s = window_s, watermark_s
        self.queries, self.row_queries = [], []

    def chk(self, sink: str) -> str:
        return os.path.join(self.out, f"_chk_{sink}")

    def start_streams(self, rules) -> None:
        from bridge_monitoring_pyspark_spark.streaming import jobs

        def started(call) -> list:
            before = {q.id for q in self.spark.streams.active}
            call()
            return [q for q in self.spark.streams.active if q.id not in before]

        self.row_queries = started(
            lambda: jobs.run_bronze(self.spark, self.landing, self.out, available_now=False))
        self.row_queries += started(
            lambda: jobs.run_silver(self.spark, self.landing, self.out, rules, available_now=False))
        gold = started(lambda: jobs.run_gold(
            self.spark, self.landing, self.out, window=f"{self.window_s} seconds",
            watermark=f"{self.watermark_s} seconds", available_now=False))
        self.queries = self.row_queries + gold

    def check_alive(self) -> None:
        for q in self.queries:
            if q.exception() is not None:
                raise RuntimeError(f"stream {q.name or q.id} failed: {q.exception()}")

    def wait_committed(self, names: list[str], timeout: float) -> bool:
        """Poll until every sink committed every file in ``names``."""
        chks = [self.chk(s) for s in ROW_SINKS + (GOLD_SINK,)]
        deadline = time.time() + timeout
        while time.time() < deadline:
            self.check_alive()
            if all(file_commit_time(chks, n) is not None for n in names):
                return True
            time.sleep(0.1)
        return False

    def latencies(self) -> dict[str, float | None]:
        """Per landed file: last row-sink commit time minus its due time."""
        cache: dict = {}
        chks = [self.chk(s) for s in ROW_SINKS]
        out = {}
        for name, info in self.gen.landed.items():
            done = file_commit_time(chks, name, cache)
            out[name] = None if done is None else done - info["due"]
        return out

    def stop_streams(self) -> None:
        for q in self.queries:
            q.stop()

    def batch_seconds(self, after: dict[str, int]) -> list[float]:
        """triggerExecution of every data-bearing micro-batch of the four
        row-sink streams after the warm-up batches, in seconds. Gold's
        batches are fewer and several times longer; mixing them in would
        make the median depend on how many of each a run happened to get."""
        out = []
        for q in self.row_queries:
            for p in q.recentProgress:
                if p.batchId > after.get(str(q.id), -1) and p.numInputRows > 0:
                    out.append(p.durationMs["triggerExecution"] / 1000.0)
        return out

    def last_batches(self) -> dict[str, int]:
        return {str(q.id): (q.lastProgress.batchId if q.lastProgress else -1) for q in self.queries}


# --- correctness, from outside the engine ------------------------------------

def _parquet_list(paths: list[str]) -> str:
    return "[" + ",".join(f"'{p}'" for p in paths) + "]"


def check_rows(con, out_dir: str, layer: str, n_rows: int, valid_sql: str | None, landed: list[str]) -> str | None:
    """valid + rejected of one layer hold every generated row exactly once
    (event ids are 0..n-1), and the valid side holds exactly the rows the
    rule accepts. Returns a failure message or None."""
    files = {s: sink_files(os.path.join(out_dir, f"{layer}_{s}")) for s in ("valid", "rejected")}
    ids = " UNION ALL ".join(
        f"SELECT event_id FROM read_parquet({_parquet_list(f)})" for f in files.values() if f)
    if not ids:
        return f"{layer}: no committed output"
    cnt, distinct, lo, hi = con.execute(
        f"SELECT count(*), count(DISTINCT event_id), min(event_id), max(event_id) FROM ({ids})"
    ).fetchone()
    if (cnt, distinct, lo, hi) != (n_rows, n_rows, 0, n_rows - 1):
        return f"{layer}: rows={cnt} distinct={distinct} ids=[{lo},{hi}], generated {n_rows}"
    if valid_sql is not None:
        want = con.execute(
            f"SELECT count(*) FROM read_parquet({_parquet_list(landed)}) WHERE {valid_sql}"
        ).fetchone()[0]
        got = con.execute(
            f"SELECT count(*) FROM read_parquet({_parquet_list(files['valid'])})"
        ).fetchone()[0] if files["valid"] else 0
        if want != got:
            return f"{layer}: valid rows {got}, rule accepts {want}"
    return None


def expected_gold(con, landed: list[str], window_s: int, watermark_s: int) -> list[tuple]:
    """Closed gold windows by DuckDB over the landed files: the three
    per-type windowed aggregates inner-joined on the window, for windows
    that end at or before the final watermark (min over the three types of
    their max event time, truncated to ms as Spark does, minus the delay)."""
    w_us, d_us = window_s * 1_000_000, watermark_s * 1_000_000
    src = f"read_parquet({_parquet_list(landed)})"
    sql = f"""
    WITH ev AS (SELECT epoch_us(ts) AS t, event_type, value FROM {src}),
    wm AS (SELECT least(
        (SELECT max(t) FROM ev WHERE event_type = 'click'),
        (SELECT max(t) FROM ev WHERE event_type = 'view'),
        (SELECT max(t) FROM ev WHERE event_type = 'error')) // 1000 * 1000 - {d_us} AS w),
    c AS (SELECT t // {w_us} * {w_us} AS ws,
                 sum(round(value * 100, 0)) / (100 * count(value)) AS avg_click_value
          FROM ev WHERE event_type = 'click' GROUP BY 1),
    v AS (SELECT t // {w_us} * {w_us} AS ws, max(value) AS max_view_value
          FROM ev WHERE event_type = 'view' GROUP BY 1),
    e AS (SELECT t // {w_us} * {w_us} AS ws, max(value) AS max_error_value
          FROM ev WHERE event_type = 'error' GROUP BY 1)
    SELECT c.ws, c.ws + {w_us}, c.avg_click_value, v.max_view_value, e.max_error_value
    FROM c JOIN v USING (ws) JOIN e USING (ws) CROSS JOIN wm
    WHERE c.ws + {w_us} <= wm.w
    """
    return con.execute(sql).fetchall()


def gold_rows(con, out_dir: str) -> list[tuple]:
    files = sink_files(os.path.join(out_dir, GOLD_SINK))
    if not files:
        return []
    return con.execute(
        f"SELECT epoch_us(window_start), epoch_us(window_end), avg_click_value, "
        f"max_view_value, max_error_value FROM read_parquet({_parquet_list(files)})"
    ).fetchall()


def gold_lags(out_dir: str, watermark_s: int) -> list[float]:
    """Per emitted gold window: commit time of the batch that wrote it minus
    (window end + watermark delay). A data file belongs to the first commit
    at or after its modification time."""
    commits = sorted(commit_times(os.path.join(out_dir, f"_chk_{GOLD_SINK}")).values())
    lags = []
    for f in sink_files(os.path.join(out_dir, GOLD_SINK)):
        written = os.path.getmtime(f)
        committed = next((c for c in commits if c >= written), None)
        if committed is None:
            continue
        ends = pq.read_table(f, columns=["window_end"])["window_end"].cast(pa.timestamp("us"))
        for end_us in ends.cast(pa.int64()).to_pylist():
            lags.append(committed - (end_us / 1e6 + watermark_s))
    return lags


def run(spark, work_dir: str, fixture_dir: str, seed: int, seconds: float, cfg: dict,
        log=print) -> dict:
    """One medallion_live run: warm the streams on ``cfg['warmup_files']``
    files, then land files for ``seconds`` on the generator's schedule,
    let the streams drain, and check and measure the outputs."""
    import duckdb

    from bridge_monitoring_pyspark_spark.plans.bridge import EVENT_RULES
    from tools.check_oracle import norm_rows

    live = LiveRun(spark, work_dir, fixture_dir, seed, cfg["rate"], cfg["tick"],
                   cfg["window_s"], cfg["watermark_s"])
    res: dict = {"checks": {}}
    try:
        now = time.time()
        for i in range(cfg["warmup_files"]):
            live.gen.land(now - (cfg["warmup_files"] - 1 - i) * cfg["tick"], warmup=True)
        t0 = time.time()
        live.start_streams(EVENT_RULES)
        if not live.wait_committed(list(live.gen.landed), timeout=cfg["drain_timeout_s"]):
            raise RuntimeError("the streams did not commit the warm-up files")
        res["warmup_s"] = time.time() - t0
        after_warmup = live.last_batches()

        res["t_start"] = time.time()
        live.gen.start(seconds)
        live.gen.join()
        timed = [n for n, f in live.gen.landed.items() if not f["warmup"]]
        res["drained"] = live.wait_committed(timed, timeout=cfg["drain_timeout_s"])
        res["t_end"] = time.time()
        res["pass_samples"] = live.batch_seconds(after_warmup)

        lat = live.latencies()
        res["files"] = len(timed)
        res["latencies"] = [lat[n] for n in timed if lat[n] is not None]
        res["failed_files"] = sum(1 for n in timed if lat[n] is None)
        done = {n: (None if lat[n] is None else lat[n] + f["due"])
                for n, f in live.gen.landed.items() if not f["warmup"]}
        res["backlog_max"] = backlog_max(
            {n: f for n, f in live.gen.landed.items() if not f["warmup"]}, done)
        res["generator_late_s"] = [f["landed"] - f["due"] for f in live.gen.landed.values()
                                   if not f["warmup"]]

        landed = [os.path.join(live.landing, n) for n in live.gen.landed]
        n_rows = live.gen.next_id
        con = duckdb.connect()
        res["checks"]["bronze"] = check_rows(con, live.out, "bronze", n_rows, None, landed)
        res["checks"]["silver"] = check_rows(con, live.out, "silver", n_rows, EVENT_RULES.valid_sql(), landed)
        want = norm_rows(GOLD_COLS, expected_gold(con, landed, cfg["window_s"], cfg["watermark_s"]))
        # gold emits its last closed windows in a no-data batch after the
        # final data batch; poll for it
        deadline = time.time() + cfg["drain_timeout_s"]
        got = norm_rows(GOLD_COLS, gold_rows(con, live.out))
        while got != want and time.time() < deadline:
            live.check_alive()
            time.sleep(0.2)
            got = norm_rows(GOLD_COLS, gold_rows(con, live.out))
        res["checks"]["gold"] = None if got == want and want else (
            f"gold windows {len(got)}, expected {len(want)}")
        con.close()
        res["gold_windows"] = len(got)
        res["gold_lags"] = gold_lags(live.out, cfg["watermark_s"])
        res["sink_files"] = sum(len(sink_files(os.path.join(live.out, s)))
                                for s in ROW_SINKS + (GOLD_SINK,))
        res["sink_bytes"] = sum(os.path.getsize(f) for s in ROW_SINKS + (GOLD_SINK,)
                                for f in sink_files(os.path.join(live.out, s)))
        res["rows"] = n_rows
    finally:
        live.gen.stop()
        live.stop_streams()
    for name, why in res["checks"].items():
        if why:
            log(f"correctness FAIL {name}: {why}")
    return res
