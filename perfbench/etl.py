"""The ``etl_lifecycle`` workload: backfill, incremental cycles (the
pipeline's own incremental ingest plus an overlapping re-fetch), serving
reads, compaction.

Pages come from a versioned synthetic backend: every bar's values depend on
(symbol, bar, fetch version, seed), so a re-fetched tail carries new values
and keep-last must serve the newest version. The expected serving state is
tracked bar by bar on the driver from the same page function, which makes
the correctness gate exact.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from spans import data_files

STEP_MS = 3_600_000  # 1h bars
ORIGIN_MS = 1704067200000  # 2024-01-01 UTC
#: Pipeline's FetchConfig for each market (page limit, job-wide call budget)
MARKETS = {"SPOT": (1000, 2750), "PERPETUAL": (499, 1150)}
FETCH_PARTITIONS = 8
WEIGHT_PER_CALL = 2
#: fixed multiset of re-fetched tail lengths (bars); the seed permutes it
OVERLAPS = (24, 48, 96)


@dataclass(frozen=True)
class EtlSizes:
    n_spot: int = 16  # half pass the USDT/USDC quote filter
    n_perp: int = 4  # one is delivered on 2024-02-15
    backfill_bars: int = 2880  # 120 days of 1h bars
    cycles: int = 1
    advance_bars: int = 72  # each cycle moves the end 3 days
    overlap_symbols: int = 4  # spot symbols whose tail is re-fetched per cycle


def bar_values(sym_i: int, bar: np.ndarray, version: int, salt: int):
    """Source price level and volume of each bar for one fetch version;
    the page function formats them into the API's string fields."""
    px = 100.0 + sym_i * 10.0 + np.sin(bar / 20.0) * 5.0 + version * 0.25 + salt * 0.001
    vol = 1000.0 + (bar % 100) * 7.0 + version * 10.0 + salt
    return px, vol


def page_fn(seed: int, version: int, accs=None):
    """Synthetic REST page backend for one fetch version.

    ``accs`` = (pages, rows, fetch_s) Spark accumulators, or None."""
    salt = seed % 1000

    def page(symbol: str, start_ms: int, end_ms: int, limit: int) -> list[list]:
        t0 = time.perf_counter()
        sym_i = int(symbol[3:6])
        first = max(0, -(-(start_ms - ORIGIN_MS) // STEP_MS))
        last = min(first + limit - 1, (end_ms - ORIGIN_MS) // STEP_MS)
        bars = np.arange(first, last + 1)
        px, vol = bar_values(sym_i, bars, version, salt)
        rows = [
            [
                ORIGIN_MS + int(b) * STEP_MS,
                f"{p:.8f}",
                f"{p * 1.01:.8f}",
                f"{p * 0.99:.8f}",
                f"{p * 1.005:.8f}",
                f"{v:.8f}",
                ORIGIN_MS + (int(b) + 1) * STEP_MS - 1,
                f"{v * p:.8f}",
                int(b) % 500 + 1,
                f"{v * 0.4:.8f}",
                f"{v * p * 0.4:.8f}",
                "0",
            ]
            for b, p, v in zip(bars, px, vol)
        ]
        if accs is not None:
            accs[0].add(1)
            accs[1].add(len(rows))
            accs[2].add(time.perf_counter() - t0)
        return rows

    return page


def fetch_calls(n_bars: int, limit: int) -> int:
    """Page calls the pagination loop makes for ``n_bars`` bars: full pages,
    then one short (possibly empty) page that ends the loop."""
    return n_bars // limit + 1


@dataclass
class Plan:
    """Seed-derived lifecycle plan plus the expected serving state."""

    seed: int
    sizes: EtlSizes
    spot: list[str] = field(default_factory=list)
    perp: list[str] = field(default_factory=list)
    perp_end_ms: dict[str, int] = field(default_factory=dict)
    #: per cycle: (end_ms, {symbol: first bar of this cycle's version}).
    #: A symbol whose first bar is at or before the previous end has its
    #: tail re-fetched.
    cycles: list[tuple[int, dict[str, int]]] = field(default_factory=list)

    @classmethod
    def make(cls, seed: int, sizes: EtlSizes) -> "Plan":
        rng = np.random.default_rng(seed)
        p = cls(seed, sizes)
        # synthetic_spot_symbols: quote = [USDT, USDC, BTC, ETH][i % 4]
        p.spot = [f"SYM{i:03d}USDT" for i in range(sizes.n_spot) if i % 4 in (0, 1)]
        p.perp = [f"SYM{i:03d}USDT" for i in range(sizes.n_perp)]
        end = p.backfill_end_ms
        delivered = int(pd.Timestamp("2024-02-15", tz="UTC").value // 1_000_000)
        p.perp_end_ms = {s: (min(end, delivered) if i % 5 == 0 else end) for i, s in enumerate(p.perp)}
        wm = {s: end for s in p.spot}
        overlaps = list(rng.permutation(OVERLAPS * -(-sizes.cycles // len(OVERLAPS))))[: sizes.cycles]
        for c in range(sizes.cycles):
            end_c = end + (c + 1) * sizes.advance_bars * STEP_MS
            chosen = set(rng.choice(p.spot, sizes.overlap_symbols, replace=False))
            starts = {
                s: (
                    max(ORIGIN_MS, wm[s] - (int(overlaps[c]) - 1) * STEP_MS)
                    if s in chosen
                    else wm[s] + STEP_MS
                )
                for s in p.spot
            }
            p.cycles.append((end_c, starts))
            wm = {s: end_c for s in p.spot}
        return p

    @property
    def backfill_end_ms(self) -> int:
        return ORIGIN_MS + (self.sizes.backfill_bars - 1) * STEP_MS

    def prev_end_ms(self, cycle: int) -> int:
        """The serving end before ``cycle`` (1-based) runs."""
        return self.cycles[cycle - 2][0] if cycle > 1 else self.backfill_end_ms

    def tails(self, cycle: int) -> dict[str, int]:
        """{symbol: start_ms} of the overlapping re-fetch in ``cycle``."""
        prev = self.prev_end_ms(cycle)
        return {s: st for s, st in self.cycles[cycle - 1][1].items() if st <= prev}

    def fetch_jobs(self) -> list[tuple[str, str, dict[str, int]]]:
        """(label, market, {symbol: page calls}) for every fetch the
        lifecycle runs."""
        out = []
        for market, syms, ends in (
            ("SPOT", self.spot, {s: self.backfill_end_ms for s in self.spot}),
            ("PERPETUAL", self.perp, self.perp_end_ms),
        ):
            limit = MARKETS[market][0]
            calls = {s: fetch_calls((ends[s] - ORIGIN_MS) // STEP_MS + 1, limit) for s in syms}
            out.append((f"backfill_{market.lower()}", market, calls))
        limit = MARKETS["SPOT"][0]
        for c, (end_c, _starts) in enumerate(self.cycles, start=1):
            prev = self.prev_end_ms(c)
            new_bars = (end_c - prev) // STEP_MS
            out.append((f"cycle_{c}_incremental", "SPOT", {s: fetch_calls(new_bars, limit) for s in self.spot}))
            tails = {s: fetch_calls((prev - st) // STEP_MS + 1, limit) for s, st in self.tails(c).items()}
            out.append((f"cycle_{c}_tail", "SPOT", tails))
        return out

    def versions(self, upto_cycle: int) -> dict[tuple[str, str], np.ndarray]:
        """Expected version per bar for each (type, symbol) after
        ``upto_cycle`` cycles (0 = after the backfill)."""
        out = {}
        for s in self.spot:
            out[("SPOT", s)] = np.zeros(self.sizes.backfill_bars, dtype=np.int64)
        for s in self.perp:
            n = (self.perp_end_ms[s] - ORIGIN_MS) // STEP_MS + 1
            out[("PERPETUAL", s)] = np.zeros(n, dtype=np.int64)
        for c, (end_c, starts) in enumerate(self.cycles[:upto_cycle], start=1):
            n_end = (end_c - ORIGIN_MS) // STEP_MS + 1
            for s, st in starts.items():
                v = out[("SPOT", s)]
                if len(v) < n_end:
                    v = np.concatenate([v, np.zeros(n_end - len(v), dtype=np.int64)])
                v[(st - ORIGIN_MS) // STEP_MS :] = c
                out[("SPOT", s)] = v
        return out

    def expected_snapshot(self, upto_cycle: int) -> pd.DataFrame:
        """symbol, type, timestamp, high, low, close, volume of the keep-last
        snapshot."""
        salt = self.seed % 1000
        parts = []
        for (typ, sym), ver in self.versions(upto_cycle).items():
            bars = np.arange(len(ver))
            cols = {c: np.empty(len(ver)) for c in ("high", "low", "close", "volume")}
            for v in np.unique(ver):
                m = ver == v
                px, vo = bar_values(int(sym[3:6]), bars[m], int(v), salt)
                for c, x in (("high", px * 1.01), ("low", px * 0.99), ("close", px * 1.005), ("volume", vo)):
                    cols[c][m] = [float(f"{y:.8f}") for y in x]
            parts.append(
                pd.DataFrame(
                    {
                        "symbol": sym,
                        "type": typ,
                        "timestamp": pd.to_datetime(ORIGIN_MS + bars * STEP_MS, unit="ms"),
                        **cols,
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)

    def live_rows(self, upto_cycle: int) -> int:
        return sum(len(v) for v in self.versions(upto_cycle).values())


def partition_ids(spark, symbols: list[str]) -> dict[str, int]:
    """Fetch partition of each symbol, as ``repartition(8, "symbol")``
    assigns it (Murmur3 hash, seed 42, pmod)."""
    rows = spark.sql(
        f"SELECT symbol, pmod(hash(symbol), {FETCH_PARTITIONS}) AS p "
        f"FROM VALUES {', '.join(f'({s!r})' for s in symbols)} AS t(symbol)"
    ).collect()
    return {r.symbol: int(r.p) for r in rows}


def check_burst(spark, plan: Plan) -> list[str]:
    """Problems where a fetch partition would exceed its token-bucket burst
    (each of the 8 partitions starts with ``budget_calls // 8`` tokens and
    spends ``WEIGHT_PER_CALL`` per page call; past that it sleeps)."""
    problems = []
    part = partition_ids(spark, sorted(set(plan.spot) | set(plan.perp)))
    for label, market, calls in plan.fetch_jobs():
        burst = max(1, MARKETS[market][1] // FETCH_PARTITIONS) // WEIGHT_PER_CALL
        per_part: dict[int, int] = {}
        for s, n in calls.items():
            per_part[part[s]] = per_part.get(part[s], 0) + n
        worst = max(per_part.values())
        if worst > burst:
            problems.append(
                f"{label}: {worst} page calls in one fetch partition exceed "
                f"the token-bucket burst of {burst}"
            )
    return problems


def read_queries(symbol: str) -> dict[str, str]:
    """Reference-shaped ClickHouse SQL over the serving views."""
    return {
        "bars_per_symbol": (
            "SELECT symbol, type, count() AS bars, max(timestamp) AS last_ts "
            "FROM bn_klines GROUP BY symbol, type"
        ),
        "latest_close": (
            "SELECT symbol, type, argMax(close, timestamp) AS last_close "
            "FROM bn_klines GROUP BY symbol, type"
        ),
        "daily_volume": (
            "SELECT toDate(timestamp) AS day, sum(volume) AS volume FROM bn_klines "
            f"WHERE symbol = '{symbol}' AND type = 'SPOT' GROUP BY day"
        ),
        "range_since_april": (
            "SELECT symbol, type, max(high) AS hi, min(low) AS lo FROM bn_klines "
            "WHERE timestamp >= toDateTime('2024-04-01 00:00:00') GROUP BY symbol, type"
        ),
        "volume_per_market": (
            "SELECT type, uniqExact(symbol) AS symbols, sum(volume) AS volume "
            "FROM bn_klines GROUP BY type"
        ),
    }


def expected_reads(snap: pd.DataFrame, symbol: str) -> dict[str, pd.DataFrame]:
    g = snap.groupby(["symbol", "type"], as_index=False)
    bars = g.agg(bars=("timestamp", "size"), last_ts=("timestamp", "max"))
    last = snap.sort_values("timestamp").groupby(["symbol", "type"], as_index=False).last()
    one = snap[(snap.symbol == symbol) & (snap.type == "SPOT")]
    day = one.assign(day=one.timestamp.dt.date).groupby("day", as_index=False)["volume"].sum()
    recent = snap[snap.timestamp >= pd.Timestamp("2024-04-01")]
    rng = recent.groupby(["symbol", "type"], as_index=False).agg(hi=("high", "max"), lo=("low", "min"))
    per_market = snap.groupby("type", as_index=False).agg(
        symbols=("symbol", "nunique"), volume=("volume", "sum")
    )
    return {
        "bars_per_symbol": bars.astype({"bars": "int64"}),
        "latest_close": last[["symbol", "type", "close"]].rename(columns={"close": "last_close"}),
        "daily_volume": day,
        "range_since_april": rng,
        "volume_per_market": per_market.astype({"symbols": "int64"}),
    }


class EtlLifecycle:
    """One pass = backfill, ``cycles`` incremental cycles each followed by a
    serving-read batch, ``Pipeline.maintain``, and one read after it. Each
    pass starts from an empty warehouse."""

    def __init__(self, seed: int, work: str, sizes: EtlSizes = EtlSizes()):
        self.seed = seed
        self.work = work
        self.plan = Plan.make(seed, sizes)
        self.read_symbol = self.plan.spot[int(np.random.default_rng(seed + 1).integers(len(self.plan.spot)))]
        self.passes = 0
        self.backfill_rows: list[int] = []
        self.stored_bytes = 0
        self._expected: dict[int, pd.DataFrame] = {}

    def prepare(self) -> dict[str, int]:
        return {"live_rows": self.plan.live_rows(self.plan.sizes.cycles)}

    def setup(self, spark) -> None:
        """Refuse sizes whose fetch would wait on the token bucket (this is
        also the session's first Spark job)."""
        problems = check_burst(spark, self.plan)
        if problems:
            raise RuntimeError("ETL sizing exceeds the fetch burst: " + "; ".join(problems))

    #: a lifecycle is long enough to be measured once per run
    min_passes = 1

    def expected(self, upto_cycle: int) -> pd.DataFrame:
        if upto_cycle not in self._expected:
            self._expected[upto_cycle] = self.plan.expected_snapshot(upto_cycle)
        return self._expected[upto_cycle]

    def run_pass(self, spark, probe) -> bool:
        import shutil

        from binance_etl_clickhouse_spark.engine import AnalyticsEngine
        from binance_etl_clickhouse_spark.pipeline import Pipeline, PipelineConfig

        sizes = self.plan.sizes
        accs = None
        if probe.tracer is not None:
            sc = spark.sparkContext
            accs = (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0))
        base = os.path.join(self.work, f"etl_{self.passes}")
        self.passes += 1
        cfg = PipelineConfig(
            intervals=["1h"],
            start_ms=ORIGIN_MS,
            end_ms=self.plan.backfill_end_ms,
            fetch_partitions=FETCH_PARTITIONS,
            n_spot_symbols=sizes.n_spot,
            n_perp_symbols=sizes.n_perp,
        )
        pipe = Pipeline(spark, base, cfg, page_fn=page_fn(self.seed, 0, accs))
        eng = AnalyticsEngine(spark, verbose=False)

        with probe.op("backfill", "update_all"):
            counts = pipe.update_all()
        landed = counts["spot_klines_1h"] + counts["perp_klines_1h"]
        self.backfill_rows.append(landed)
        want = self.plan.live_rows(0)
        probe.check([] if landed == want else [f"backfill landed {landed} rows, expected {want}"])

        for c in range(1, sizes.cycles + 1):
            with probe.op("cycle", f"cycle_{c}"):
                added = self._cycle(spark, pipe, c, accs)
            want = len(self.plan.spot) * ((self.plan.cycles[c - 1][0] - self.plan.prev_end_ms(c)) // STEP_MS)
            probe.check([] if added == want else [f"cycle {c} ingested {added} new rows, expected {want}"])
            self._reads(spark, probe, pipe, eng, c, f"after_cycle_{c}")
        with probe.op("maintain", "maintain"):
            pipe.maintain(min_files=2)
        self._reads(spark, probe, pipe, eng, sizes.cycles, "after_maintain")
        self._gate_final(spark, probe, pipe)

        files = data_files(pipe.klines.path)
        self.stored_bytes = sum(os.path.getsize(f) for f in files)
        if probe.tracer is not None:
            probe.tracer.count("storage.table.live_files", len(files))
            probe.tracer.count("sources.fetcher.pages", accs[0].value)
            probe.tracer.count("sources.fetcher.rows", accs[1].value)
            probe.tracer.count("sources.fetcher.fetch_s", accs[2].value)
        shutil.rmtree(base, ignore_errors=True)
        return True

    def _cycle(self, spark, pipe, c: int, accs) -> int:
        """Advance the end and run the pipeline's incremental ingest (every
        spot symbol from its watermark), then re-fetch the planned
        overlapping tails as one more version for keep-last to resolve, and
        refresh the daily rollup. Returns the incremental ingest's rows."""
        from pyspark.sql import functions as F

        from binance_etl_clickhouse_spark.operators import etl as etl_ops
        from binance_etl_clickhouse_spark.sources import fetcher

        pipe.cfg.end_ms = self.plan.cycles[c - 1][0]
        pipe.page_fn = page_fn(self.seed, c, accs)
        added = pipe.update_klines_incremental("SPOT", "1h")

        prev = self.plan.prev_end_ms(c)
        values = ", ".join(f"('{s}', {st}L, {prev}L)" for s, st in sorted(self.plan.tails(c).items()))
        syms = spark.sql(
            f"SELECT * FROM VALUES {values} AS t(symbol, start_ms, delivery_date_ms)"
        )
        limit, budget = MARKETS["SPOT"]
        fetch_cfg = fetcher.FetchConfig(interval="1h", page_limit=limit, budget_calls=budget)
        raw = fetcher.fetch_historical_klines(
            syms, pipe.page_fn, ORIGIN_MS, prev, fetch_cfg, FETCH_PARTITIONS
        )
        ok = raw.filter(F.col("fetch_error").isNull()).drop("fetch_error")
        cleaned = etl_ops.clean_klines(ok, "SPOT", "1h")
        pipe.klines.append(cleaned, pipe.klines.max_ingest_seq(spark) + 1)
        pipe.klines_daily.refresh(spark)
        return added

    def _reads(self, spark, probe, pipe, eng, upto_cycle: int, label: str) -> None:
        from binance_etl_clickhouse_spark.testing.parity import compare_frames

        outs = {}
        with probe.op("read_batch", label):
            eng.register_pipeline_tables(pipe)
            for name, sql in read_queries(self.read_symbol).items():
                with probe.op("read", name):
                    df = eng.sql(sql, dialect="clickhouse")
                    outs[name] = df.toPandas()
                probe.phases(df)
        want = expected_reads(self.expected(upto_cycle), self.read_symbol)
        for name, got in outs.items():
            probe.check(compare_frames(got, want[name], f"{label}/{name}"))

    def _gate_final(self, spark, probe, pipe) -> None:
        """One row per key with the last version's values and the expected
        row total; the incrementally refreshed daily rollup equals a fresh
        GROUP BY over the snapshot."""
        from pyspark.sql import functions as F

        from binance_etl_clickhouse_spark.storage.rollup import BUCKET_COL
        from binance_etl_clickhouse_spark.testing.parity import compare_frames

        snap = pipe.klines.read(spark)
        got = snap.select("symbol", "type", "timestamp", "high", "low", "close", "volume").toPandas()
        probe.check(compare_frames(got, self.expected(self.plan.sizes.cycles), "bn_klines"))
        roll = pipe.klines_daily
        fresh = snap.groupBy(
            F.date_trunc(roll.granularity, F.col("timestamp")).alias(BUCKET_COL), *roll.group_cols
        ).agg(*roll.aggs())
        daily = roll.read(spark).drop("month")
        probe.check(compare_frames(daily.toPandas(), fresh.toPandas(), "bn_klines_daily"))
