"""The two closed-loop, single-client workloads and the operation
recorder they share.

Every operation is timed from outside the program, through its public
functions: ``__spark_entry__.queries()``, ``_curation_reset`` /
``_curation``, ``jobs.run_price_etl``, ``io.read_prices_range`` and
``streaming.ingest``. A read is timed from the builder call to the
pandas frame in hand. Outputs are checked outside the timed region; an
operation that raises or returns a wrong answer is counted as failed
and keeps its time in the sample.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import sys
import time
import traceback

import layers
from oracle import frame_rows, same

# The reference's Dashboard page, its Trades page, and the range scan.
PAGES = ("overview", "latest_prices", "cash_balance", "avg_costs",
         "realized_pnl", "twr_with_benchmark", "trades_list",
         "universe_search", "price_range_scan")
# Consumers of the shared curation build.
KERNELS = ("curation_serve", "leakage_safe_split", "weighted_jaccard_pairs")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class Runner:
    """Runs and records operations. With ``trace`` on, each operation
    also gets its Spark jobs, stages, tasks and executor work, and each
    read its Catalyst phases and a fetch time."""

    def __init__(self, spark, trace: bool):
        self.spark, self.trace = spark, trace
        self.status = layers.SparkStatus(spark) if trace else None
        self.ops: list[dict] = []
        self.measuring = False
        # (query name, result digest) -> [rows, records that returned it]
        self._answers: dict[tuple[str, str], list] = {}

    @property
    def tracing(self) -> bool:
        """Trace only measured operations; the warm-up needs no trace."""
        return self.trace and self.measuring

    def _op(self, kind: str) -> dict:
        rec = {"kind": kind, "ok": True, "measured": self.measuring}
        self.ops.append(rec)
        return rec

    @staticmethod
    def _failed(rec: dict) -> None:
        traceback.print_exc(file=sys.stderr)
        rec["ok"] = False

    def call(self, kind: str, fn, *args):
        """Time ``fn(*args)`` as one operation. Returns its value (None
        if it raised) and the operation's record."""
        rec = self._op(kind)
        tracing = self.tracing
        before = self.status.last_job_id() if tracing else None
        t0 = time.perf_counter()
        value = None
        try:
            value = fn(*args)
        except Exception:
            self._failed(rec)
        rec["wall_s"] = time.perf_counter() - t0
        if tracing:
            rec.update(self.status.work_since(before))
        return value, rec

    def read(self, name: str, build):
        """Time ``build()`` plus the Arrow fetch of the frame it returns.
        In a traced run the plan is forced first, and after the fetch
        the same frame is run once more into a ``noop`` sink, outside
        the timed region; the fetch time is the ``toPandas`` time minus
        the noop time. The noop run comes second so that it does not
        warm the timed one."""
        rec = self._op("read")
        rec["name"] = name
        tracing = self.tracing
        before = self.status.last_job_id() if tracing else None
        pdf = None
        t0 = time.perf_counter()
        try:
            df = build()
            rec["construct_s"] = time.perf_counter() - t0
            if tracing:
                rec.update(layers.plan(df))
            t_fetch = time.perf_counter()
            pdf = df.toPandas()
        except Exception:
            self._failed(rec)
        t_end = time.perf_counter()
        rec["wall_s"] = t_end - t0
        if tracing and pdf is not None:
            rec.update(self.status.work_since(before))
            rec["fetch_s"] = t_end - t_fetch - layers.noop_run_s(df)
            rec["rows"] = len(pdf)
        return pdf, rec

    def keep_answer(self, name: str, pdf, rec: dict) -> None:
        """Hold a query result for the oracle check at the end."""
        if pdf is None:
            return
        rows = frame_rows(pdf)
        digest = hashlib.sha1(repr(rows).encode()).hexdigest()
        self._answers.setdefault((name, digest), [rows, []])[1].append(rec)

    def check_answers(self, oracle) -> None:
        for (name, _), (rows, recs) in self._answers.items():
            if not same(rows, oracle.answer(name)):
                print(f"wrong answer: {name}", file=sys.stderr)
                for rec in recs:
                    rec["ok"] = False


class Curation:
    """Rebuild of the shared LSH / connected-components state, then
    the kernels that read it. Rebuilds repeat in one process, as a
    retry in ``bench.py`` does, so storage they leak accumulates.

    The seed changes nothing here: the corpus is fixed, and so is the
    kernel order, because a shuffled order moved ``curation_serve``
    between 2.3 and 3.4 s from one seed to the next."""

    def __init__(self, runner: Runner, sf_dir: str):
        import __spark_entry__ as E
        self.E, self.runner, self.sf_dir = E, runner, sf_dir
        self.queries = E.queries()
        self.after_reset = (0, 0)

    # Each kernel read varies by up to a sixth from one read to the
    # next, so a measured cycle reads every kernel twice after its
    # build; the warm-up needs one pass to load and compile each.
    PASSES = 2

    def setup(self) -> None:
        self.cycle(passes=1)

    def _rebuild(self) -> None:
        spark = self.runner.spark
        self.E._curation_reset(spark)
        self.E._curation(spark, self.sf_dir)

    def cycle(self, passes: int = PASSES) -> None:
        spark = self.runner.spark
        self.runner.call("build", self._rebuild)
        for _ in range(passes):
            for name in KERNELS:
                q = self.queries[name]
                pdf, rec = self.runner.read(name,
                                            lambda: q(spark, self.sf_dir))
                self.runner.keep_answer(name, pdf, rec)

    def has_next(self) -> bool:
        return True

    def layer_metrics(self, ops: list[dict]) -> dict:
        rdds, nbytes = self.after_reset
        return {
            "curation.build_s": median(
                [o["wall_s"] for o in ops if o["kind"] == "build"]),
            "curation.persisted_rdds_after_reset": rdds,
            "curation.storage_bytes_after_reset": nbytes,
        }

    def close(self) -> None:
        """Drop the shared state. A traced run then reads what the
        resets left persisted of every build in the run."""
        spark = self.runner.spark
        self.E._curation_reset(spark)
        if self.runner.trace:
            self.after_reset = layers.persisted_storage(spark)


class Tracker:
    """The portfolio tracker: its scheduled price ETL lands a batch,
    then the user opens the pages. Each cycle moves one staged,
    date-window price batch into a stream source and runs one
    ``availableNow`` trigger of the idempotent stream, upserts the same
    batch with the batch ETL, reads the window back, and then runs the
    page queries one at a time in a seeded order."""

    # The page reads are small and each varies by up to a third from
    # pass to pass, so a measured cycle reads every page three times;
    # the warm-up needs one pass to load and compile each query.
    PASSES = 3
    BATCH_DATES = 313   # about 7.5k price rows per batch at sf0.01
    STEP_DATES = 235    # consecutive windows overlap by about 80 dates
    JITTER = 20         # the seed moves each boundary by up to this

    def __init__(self, runner: Runner, sf_dir: str, rng: random.Random,
                 work_dir: str):
        import __spark_entry__ as E
        self.runner, self.sf_dir, self.rng = runner, sf_dir, rng
        self.queries = E.queries()
        d = lambda name: os.path.join(work_dir, name)  # noqa: E731
        self.staged, self.src = d("staged"), d("stream_src")
        self.stream_target, self.ckpt = d("stream_target"), d("stream_ckpt")
        self.batch_target = d("prices")
        self.windows: list[tuple] = []
        self.next_batch = 0
        self.keys: set = set()
        self.listener = None
        self.triggers: list[dict] = []

    def setup(self) -> None:
        from pyspark.sql import functions as F
        from etl_portfolio_tracker_spark import derive

        spark = self.runner.spark
        prices = derive.prices(spark, self.sf_dir)
        pdf = prices.toPandas()
        self.rows = {(t, d): c for t, d, c in
                     zip(pdf["ticker"], pdf["ts"], pdf["close"])}
        dates = sorted(set(pdf["ts"]))
        j = lambda: self.rng.randint(-self.JITTER, self.JITTER)  # noqa: E731
        lo = 0
        while lo + self.BATCH_DATES <= len(dates):
            hi = min(lo + self.BATCH_DATES + j(), len(dates) - 1)
            self.windows.append((dates[lo], dates[hi]))
            lo = max(lo + self.STEP_DATES + j(), lo + 1)
        win = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(self.windows)],
            "batch int, lo date, hi date")
        # one job writes every batch, one file each; the stream schema
        # wants ts as a timestamp, which run_price_etl also accepts
        (prices.join(F.broadcast(win),
                     (prices.ts >= win.lo) & (prices.ts <= win.hi))
         .select("ticker", prices.ts.cast("timestamp").alias("ts"),
                 "close", "batch")
         .repartition("batch")
         .write.partitionBy("batch").parquet(self.staged))
        os.makedirs(self.src)
        if self.runner.trace:
            self.listener = layers.StreamLog()
            spark.streams.addListener(self.listener)
        self.cycle(passes=1)

    def has_next(self) -> bool:
        return self.next_batch < len(self.windows)

    def _land_and_trigger(self, k: int) -> None:
        from etl_portfolio_tracker_spark.streaming import ingest as ING

        part_dir = os.path.join(self.staged, f"batch={k}")
        (part,) = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        os.rename(os.path.join(part_dir, part),
                  os.path.join(self.src, f"batch-{k}.parquet"))
        q = ING.write_idempotent(
            ING.dedup_stream(ING.read_price_stream(self.runner.spark,
                                                   self.src)),
            self.stream_target, self.ckpt)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream trigger failed: {q.exception()}")

    def cycle(self, passes: int = PASSES) -> None:
        from etl_portfolio_tracker_spark.io import read_prices_range
        from etl_portfolio_tracker_spark.jobs import run_price_etl

        r, spark, k = self.runner, self.runner.spark, self.next_batch
        self.next_batch += 1
        lo, hi = self.windows[k]
        seen = len(self.listener.batches) if self.listener else 0
        _, s_rec = r.call("stream", self._land_and_trigger, k)
        if r.tracing:
            r.status.drain()  # progress events arrive through the bus
            self.triggers.append({"wall_s": s_rec["wall_s"],
                                  "batches": self.listener.batches[seen:]})

        batch = {key for key in self.rows if lo <= key[1] <= hi}
        new = batch - self.keys
        self.keys |= batch
        t_start = time.time()
        src = os.path.join(self.src, f"batch-{k}.parquet")
        res, u_rec = r.call("upsert", run_price_etl, spark, src,
                            self.batch_target)
        u_rec["inserted"] = res["inserted"] if res else 0
        if res is not None and res["inserted"] != len(new):
            print(f"upsert {k}: inserted {res['inserted']}, "
                  f"expected {len(new)}", file=sys.stderr)
            u_rec["ok"] = False
        if r.tracing:
            u_rec["bytes_written"] = _bytes_since(self.batch_target, t_start)

        pdf, q_rec = r.read("range_read", lambda: read_prices_range(
            spark, self.batch_target, lo.isoformat(), hi.isoformat()))
        if pdf is not None:
            got = set(zip(pdf["ticker"], pdf["ts"], pdf["close"]))
            if len(pdf) != len(batch) or \
                    got != {(t, d, self.rows[(t, d)]) for t, d in batch}:
                print(f"range read {k}: wrong rows", file=sys.stderr)
                q_rec["ok"] = False
        self._check_targets(u_rec, s_rec)

        for _ in range(passes):
            for name in self.rng.sample(PAGES, len(PAGES)):
                q = self.queries[name]
                pdf, rec = r.read(name, lambda: q(spark, self.sf_dir))
                r.keep_answer(name, pdf, rec)

    def _check_targets(self, u_rec: dict, s_rec: dict) -> None:
        """The batch target holds each staged key once; the stream
        target holds the same rows."""
        batch_rows = _read_rows(self.batch_target)
        if len(batch_rows) != len(self.keys) or \
                {(t, d) for t, d, _ in batch_rows} != self.keys:
            print("batch target: wrong key set or duplicate keys",
                  file=sys.stderr)
            u_rec["ok"] = False
        if set(_read_rows(self.stream_target)) != set(batch_rows):
            print("stream target differs from batch target", file=sys.stderr)
            s_rec["ok"] = False

    def layer_metrics(self, ops: list[dict]) -> dict:
        ups = [o for o in ops if o["kind"] == "upsert"]
        batches = [b for t in self.triggers for b in t["batches"]]
        return {
            "io.bytes_written_per_row_inserted":
                sum(o.get("bytes_written", 0) for o in ups)
                / max(sum(o["inserted"] for o in ups), 1),
            "io.files_in_target": sum(
                f.endswith(".parquet")
                for _, _, fs in os.walk(self.batch_target) for f in fs),
            "io.range_read_s": median([o["wall_s"] for o in ops
                                       if o.get("name") == "range_read"]),
            "jobs.upsert_s": median([o["wall_s"] for o in ups]),
            "streaming.micro_batches_per_trigger":
                len(batches) / len(self.triggers),
            "streaming.useful_batch_frac":
                sum(b["num_input_rows"] > 0 for b in batches)
                / max(len(batches), 1),
            "streaming.empty_batch_ms": mean(
                [b["batch_duration_ms"] for b in batches
                 if b["num_input_rows"] == 0]),
            "streaming.state_rows":
                batches[-1]["state_rows"] if batches else 0,
            # trigger time spent outside its micro-batches
            "streaming.trigger_overhead_s": median(
                [t["wall_s"] - sum(b["batch_duration_ms"]
                                   for b in t["batches"]) / 1e3
                 for t in self.triggers]),
            "streaming.commit_s": median(
                [t["wall_s"] for t in self.triggers]),
        }

    def close(self) -> None:
        if self.listener is not None:
            self.runner.spark.streams.removeListener(self.listener)


def _read_rows(path: str) -> list[tuple]:
    """(ticker, date, close) rows of a parquet directory."""
    import pyarrow.parquet as pq
    t = pq.read_table(path, columns=["ticker", "ts", "close"])
    ts = [v.date() if hasattr(v, "date") else v
          for v in t.column("ts").to_pylist()]
    return list(zip(t.column("ticker").to_pylist(), ts,
                    t.column("close").to_pylist()))


def _bytes_since(path: str, t_start: float) -> int:
    """Bytes of data files under ``path`` written at or after
    ``t_start``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if f.endswith(".parquet") and st.st_mtime >= t_start:
                total += st.st_size
    return total
