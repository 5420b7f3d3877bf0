"""The benchmark's workloads.  Each one generates its inputs from the seed,
runs one pass of operations through the program's public functions,
and checks every output outside the timed region.

A pass calls into the program only through ``ctx.call`` (the wall of
a layer function, including the eager jobs it fires) and
``ctx.action`` (the benchmark's terminal action on a returned
DataFrame); ``ctx.op`` groups them into one operation.

``pass_s`` is a workload's nominal warm-pass wall on the reference
host (4 vCPU); with ``--seconds`` it fixes the number of warm passes.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import sys

import gen

# A fixed subset of the ``bench.py`` HEADLINE list, copied so that an
# edit there cannot change this workload: plain aggregation, broadcast
# dimension joins, as-of join and dup-group resolution (the query with
# the most eager plan-build jobs).  The full 31-query list does not fit
# the benchmark's time budget: its cold pass alone takes about a
# minute on 4 cores.
HEADLINE_MIX = (
    "q01_pricing_summary",
    "q03_broadcast_dims",
    "q09_asof_join",
    "q52_dup_groups",
)
HEADLINE_SF = 0.01
# The tables and the corpus texts are drawn once from this seed, like
# the fixed TESTDATA.md tables; ``--seed`` varies only the query order
# (batch_mix) and the increment split and near-dup copies
# (corpus_ingest), so runs with different seeds do comparable work.
# The TAQ snapshot of batch_mix comes from ``fixtures.generate`` with
# ``--seed``; its table shapes do not depend on the seed.
DATA_SEED = 42

CORPUS_DOCS = 1200
CORPUS_INCREMENTS = 8
CORPUS_SHARDS = 2
JACCARD = 0.5  # ingest_increment's default verification threshold

# The TAQ part composes the pipelines the way cli.py's universe,
# panels (1 s grid, distributed CSV sink) and corr (60 s grid, 1 h
# windows, ``--method auto``) commands do.
UNIVERSE_TABLES = ("dsp500list", "dsf", "msenames", "ccmxpf_linktable")
PANEL_FREQ_S = 1
CORR_FREQ_S = 60
CORR_INTERVAL_S = 3600
OPEN_S, CLOSE_S = 9 * 3600 + 30 * 60, 16 * 3600
TAQ_DAYS = 1  # the first generated NBBO day, the CLI's start = end


class BatchMix:
    """Read-only batch analytics in one session: the headline queries,
    bound by plan building and eager jobs on the driver, then the TAQ
    pipelines, bound by scans, resampling, shuffles and CSV sinks."""

    name = "batch_mix"
    pass_s = 13.0
    max_warm = 8

    def __init__(self):
        self.parts = (HeadlineMix(), TaqDayPanels())

    def generate(self, work_dir: str, seed: int) -> None:
        for p in self.parts:
            p.generate(work_dir, seed)

    def bind(self, spark) -> None:
        for p in self.parts:
            p.bind(spark)

    def run_pass(self, ctx, last: bool) -> None:
        for p in self.parts:
            p.run_pass(ctx, last)

    def rows_per_cpu_s(self, warm_ops, warm_cpu_s: float) -> float:
        """Generated table rows plus the pass's NBBO quotes per CPU
        second of warm pass."""
        queries, taq = self.parts
        return (queries.rows + taq.quotes) / warm_cpu_s

    def check(self) -> int:
        return sum(p.check() for p in self.parts)


class HeadlineMix:
    """The query part of ``batch_mix``: driver-bound queries on fixed
    TESTDATA.md-shaped tables; the seed draws the query order of every
    pass."""

    def generate(self, work_dir: str, seed: int) -> None:
        self.data = os.path.join(work_dir, "tables")
        self.rows = gen.query_tables(self.data, DATA_SEED, HEADLINE_SF)
        self.rng = random.Random(seed)

    def bind(self, spark) -> None:
        from wrds_data_pipeline_spark import driver_queries

        self.spark, self.queries = spark, driver_queries.QUERIES
        self.counts: list[tuple[str, int]] = []
        self.last: dict = {}  # query -> the DataFrame its latest operation counted

    def run_pass(self, ctx, last: bool) -> None:
        order = list(HEADLINE_MIX)
        self.rng.shuffle(order)
        for q in order:
            with ctx.op(q):
                df = self.last[q] = ctx.call(
                    "driver_queries", q, self.queries[q], self.spark, self.data)
                self.counts.append((q, ctx.action("driver_queries", df)))

    def check(self) -> int:
        """Row count of every operation against the DuckDB oracle, and
        the full order-insensitive value hash of each query's last
        counted DataFrame."""
        import duckdb
        from tools.check_oracle import TABLES, value_hash
        from wrds_data_pipeline_spark import driver_queries

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.data, t + '.parquet')}')"
            )
        want = {q: con.execute(driver_queries.ORACLES[q]).df() for q in HEADLINE_MIX}
        bad = set()
        for q, w in want.items():
            got = self.last[q].toPandas()
            if sorted(got.columns) != sorted(w.columns) or value_hash(got) != value_hash(w):
                _fail(f"{q}: value hash differs from the DuckDB oracle")
                bad.add(q)
        return sum(q in bad or n != len(want[q]) for q, n in self.counts)


class CorpusIngest:
    """The store lifecycle: every pass ingests the next increment into
    the persisted band index, docs store and groups store; the last
    pass then compacts all three and checks them with fsck."""

    name = "corpus_ingest"
    pass_s = 20.0
    max_warm = CORPUS_INCREMENTS - 1  # one increment per pass

    def generate(self, work_dir: str, seed: int) -> None:
        import pyarrow.parquet as pq

        self.work = work_dir
        self.incs, self.source_of = gen.corpus_increments(
            os.path.join(work_dir, "increments"), DATA_SEED, seed, CORPUS_DOCS,
            CORPUS_INCREMENTS,
        )
        self.texts: dict[int, str] = {}
        self.inc_ids: list[set[int]] = []
        for p in self.incs:
            t = pq.read_table(p).to_pydict()
            self.texts.update(zip(t["doc_id"], t["text"]))
            self.inc_ids.append(set(t["doc_id"]))

    def bind(self, spark) -> None:
        self.spark = spark
        st = os.path.join(self.work, "stores")
        shutil.rmtree(st, ignore_errors=True)
        self.idx, self.docs, self.groups = (os.path.join(st, n) for n in ("idx", "docs", "groups"))
        self.stores = (self.idx, self.docs, self.groups)
        self.n_pass = 0
        self.fsck: list[dict] = []
        self.pairs: list[list] = []
        self.input_bytes: list[int] = []

    def run_pass(self, ctx, last: bool) -> None:
        from wrds_data_pipeline_spark.operators.components import compact_groups_store
        from wrds_data_pipeline_spark.operators.dedup import (
            compact_band_index,
            compact_docs_store,
            ingest_increment,
        )
        from wrds_data_pipeline_spark.operators.fsck import (
            fsck_band_index,
            fsck_docs_store,
            fsck_groups_store,
        )

        inc = self.incs[self.n_pass]
        self.n_pass += 1
        spark, sh = self.spark, CORPUS_SHARDS
        with ctx.op("ingest"):
            new = spark.read.parquet(inc)
            pairs = ctx.call(
                "operators.dedup", "ingest_increment", ingest_increment,
                new, self.idx, self.docs, threshold=JACCARD, n_shards=sh,
                docs_shards=sh, groups_store_path=self.groups, groups_shards=sh,
                writes=self.stores,
            )
            ctx.action("operators.dedup", pairs)
        self.pairs.append(pairs.collect())
        self.input_bytes.append(os.path.getsize(inc))
        if not last:
            return
        with ctx.op("compact_band_index"):
            ctx.call("operators.dedup", "compact_band_index", compact_band_index,
                     spark, self.idx, writes=(self.idx,))
        with ctx.op("compact_docs_store"):
            ctx.call("operators.dedup", "compact_docs_store", compact_docs_store,
                     spark, self.docs, writes=(self.docs,))
        with ctx.op("compact_groups_store"):
            ctx.call("operators.components", "compact_groups_store",
                     compact_groups_store, spark, self.groups, writes=(self.groups,))
        with ctx.op("fsck_band_index"):
            self.fsck.append(ctx.call("operators.fsck", "fsck_band_index",
                                      fsck_band_index, spark, self.idx, docs_store=self.docs))
        with ctx.op("fsck_docs_store"):
            self.fsck.append(ctx.call("operators.fsck", "fsck_docs_store",
                                      fsck_docs_store, spark, self.docs))
        with ctx.op("fsck_groups_store"):
            self.fsck.append(ctx.call("operators.fsck", "fsck_groups_store",
                                      fsck_groups_store, spark, self.groups))

    def rows_per_cpu_s(self, warm_ops, warm_cpu_s: float) -> float:
        """Ingested docs per CPU second of warm ingest verb."""
        ingests = [o for o in warm_ops if o["name"] == "ingest"]
        docs = sum(len(self.inc_ids[o["pass_no"]]) for o in ingests)
        return docs / sum(o["cpu"] for o in ingests)

    def check(self) -> int:
        """A clean fsck of all three stores after the compaction.  Every
        pair an ingest emitted joins two distinct ids ingested so far,
        at least one from that increment, at the exact Jaccard of their
        3-word shingle sets (recomputed here), at or above the
        threshold.  The emitted pairs together equal what the batch
        ``near_dup_pairs`` finds over every ingested doc, so a pair an
        ingest missed counts too — above all a cross-increment pair
        against a stale store — and that batch answer must hold at
        least one planted copy of a document of an earlier increment."""
        from wrds_data_pipeline_spark.operators.dedup import near_dup_pairs

        bad: set = set()  # the failing operations
        if len(self.fsck) != 3:
            _fail("the stores were not checked")
            bad.add("fsck")
        for f in self.fsck:
            if f["errors"]:
                _fail(f"fsck {f['kind']}: {f['errors'][:1]}")
                bad.add(f["kind"])
        inc_of = {i: k for k, ids in enumerate(self.inc_ids) for i in ids}
        seen: set[int] = set()
        emitted: set[tuple[int, int]] = set()
        for k, pairs in enumerate(self.pairs):
            seen |= self.inc_ids[k]
            for a, b, j in pairs:
                if not (a in seen and b in seen and a != b
                        and k in (inc_of[a], inc_of[b]) and j >= JACCARD
                        and abs(j - round(self._jaccard(a, b), 6)) < 1e-9):
                    _fail(f"increment {k}: pair {(a, b, j)} is out of contract")
                    bad.add(k)
                emitted.add((min(a, b), max(a, b)))
        ingested = self.spark.read.parquet(*self.incs[:len(self.pairs)])
        batch = {(min(a, b), max(a, b))
                 for a, b, _ in near_dup_pairs(ingested, threshold=JACCARD).collect()}
        for a, b in batch ^ emitted:
            _fail(f"pair {(a, b)} is not in both the ingested and the batch answer")
            bad.add(max(inc_of[a], inc_of[b]))  # the ingest that had to emit it
        cross = {(min(c, s), max(c, s)) for c, s in self.source_of.items()
                 if c in seen and inc_of[s] < inc_of[c]}
        if not batch & cross:
            _fail("no planted cross-increment pair was found")
            bad.add(len(self.pairs) - 1)
        return len(bad)

    def _jaccard(self, a: int, b: int) -> float:
        sa, sb = _shingles(self.texts[a]), _shingles(self.texts[b])
        return len(sa & sb) / len(sa | sb)

    def store_amps(self, written: int, warm: list[int]) -> tuple[float, float]:
        """(write amp, space amp): bytes written to the stores in the
        warm passes per input byte ingested in them, and bytes the
        stores hold after the compaction per byte ingested in all."""
        from probes import tree_bytes

        warm_in = sum(self.input_bytes[k] for k in warm)
        return written / warm_in, tree_bytes(*self.stores) / sum(self.input_bytes)


class TaqDayPanels:
    """The pipeline part of ``batch_mix``: reference pipelines 1-3 on a
    WRDS-shaped snapshot, i.e. the point-in-time universe, the TAQ
    resample to 1 s daily panels exported as one wide CSV per day, and
    the 60 s intraday correlation matrices exported as one CSV per 1 h
    window."""

    def generate(self, work_dir: str, seed: int) -> None:
        from wrds_data_pipeline_spark import fixtures

        self.data, self.out = (os.path.join(work_dir, n) for n in ("wrds", "out"))
        self.tables = fixtures.generate(self.data, seed)
        nbbo = self.tables["nbbo"]
        self.days = sorted(set(nbbo["date"]))[:TAQ_DAYS]
        self.quotes = int(nbbo["date"].isin(self.days).sum())
        self.as_of = max(self.tables["dsf"]["date"])
        self.permnos = sorted(set(self.tables["taqmclink"]["permno"]))

    def bind(self, spark) -> None:
        self.spark = spark
        self.universe_rows: list[int] = []
        self.panels: list[tuple[str, int]] = []  # (directory, manifest rows)
        self.corr: list[list[str]] = []  # the matrix CSVs of every pass

    def _prices(self, ctx, freq_s: int):
        from pyspark.sql import functions as F

        from wrds_data_pipeline_spark.catalog import load_tables
        from wrds_data_pipeline_spark.plans.taq import (
            day_universe_symbols,
            resampled_prices,
        )

        t = ctx.call("catalog", "load_tables", load_tables,
                     self.spark, self.data, ("nbbo", "taqmclink"))
        lo, hi = F.lit(self.days[0]), F.lit(self.days[-1])
        link = t["taqmclink"].filter(F.col("date").between(lo, hi))
        symbols = ctx.call("plans.taq", "day_universe_symbols", day_universe_symbols,
                           link.select("date", "permno", "ticker"))
        nbbo = t["nbbo"].filter(F.col("date").between(lo, hi))
        return ctx.call("plans.taq", "resampled_prices", resampled_prices,
                        nbbo, symbols, freq_seconds=freq_s)

    def run_pass(self, ctx, last: bool) -> None:
        from wrds_data_pipeline_spark.catalog import load_tables
        from wrds_data_pipeline_spark.plans.corr_export import export_corr_csvs
        from wrds_data_pipeline_spark.plans.corrmatrix import intraday_corr
        from wrds_data_pipeline_spark.plans.panel_export import (
            export_daily_panels_csv_distributed,
        )
        from wrds_data_pipeline_spark.plans.universe import build_universe

        out = os.path.join(self.out, f"pass{ctx.pass_no}")
        with ctx.op("universe"):
            t = ctx.call("catalog", "load_tables", load_tables,
                         self.spark, self.data, UNIVERSE_TABLES)
            uni = ctx.call("plans.universe", "build_universe", build_universe,
                           *(t[n] for n in UNIVERSE_TABLES), as_of=self.as_of)
            self.universe_rows.append(ctx.action("plans.universe", uni))
        with ctx.op("panels"):
            panels = os.path.join(out, "panels")
            manifest = ctx.call("plans.panel_export", "export_daily_panels_csv_distributed",
                                export_daily_panels_csv_distributed,
                                self._prices(ctx, PANEL_FREQ_S), panels)
            self.panels.append((panels, ctx.action("plans.panel_export", manifest,
                                                   writes=(panels,))))
        with ctx.op("corr"):
            prices = self._prices(ctx, CORR_FREQ_S)
            corr = ctx.call("plans.corrmatrix", "intraday_corr", intraday_corr,
                            prices, CORR_INTERVAL_S, method="auto")
            corr_dir = os.path.join(out, "corr")
            paths = ctx.call("plans.corr_export", "export_corr_csvs", export_corr_csvs,
                             corr, corr_dir, "win_start", window_seconds=CORR_INTERVAL_S,
                             writes=(corr_dir,))
            self.corr.append(paths)

    def check(self) -> int:
        """Per pass, against pandas twins computed from the generated
        tables: the universe row count; one panel CSV per day equal to
        the 1 s resampled panel, pivoted over the linked permnos; one
        correlation CSV per 1 h window of every day, equal to the
        pairwise-complete ``DataFrame.corr`` of that window of the
        60 s panel."""
        import glob

        import pandas as pd

        bad: set = set()  # the failing operations, as (pass, name)
        want_rows = _universe_rows(self.tables, self.as_of)
        for p, n in enumerate(self.universe_rows):
            if n != want_rows:
                _fail(f"universe: {n} rows, want {want_rows}")
                bad.add((p, "universe"))
        long = _oracle_prices(self.tables, self.days, PANEL_FREQ_S)
        for p, (panels, n) in enumerate(self.panels):
            got = sorted(glob.glob(os.path.join(panels, "*", "*", "*.csv.gz")))
            want = [os.path.join(panels, f"{d.year}", f"{d.month:02d}", f"{d}.csv.gz")
                    for d in self.days]
            if n != len(self.days) or got != want:
                _fail(f"panels: {n} manifest rows and files {got}, want {want}")
                bad.add((p, "panels"))
                continue
            for d, path in zip(self.days, got):
                twin = long[long["date"] == d].pivot(
                    index="bucket", columns="permno", values="price").reindex(
                    columns=self.permnos)
                wide = pd.read_csv(path, index_col=0, parse_dates=True)
                if (list(wide.columns) != [str(c) for c in self.permnos]
                        or list(wide.index) != list(twin.index)
                        or not _close(wide.to_numpy(), twin.to_numpy())):
                    _fail(f"panel {path}: differs from the resampled quotes")
                    bad.add((p, "panels"))
        n_win = math.ceil((CLOSE_S - OPEN_S) / CORR_INTERVAL_S)
        starts = [pd.Timestamp(d) + pd.Timedelta(seconds=OPEN_S + k * CORR_INTERVAL_S)
                  for d in self.days for k in range(n_win)]
        want = {_corr_name(s): s for s in starts}
        pdf = _oracle_prices(self.tables, self.days, CORR_FREQ_S)
        since_open = (pdf["bucket"] - pd.to_datetime(pdf["date"])).dt.total_seconds()
        pdf["win"] = pd.to_datetime(pdf["date"]) + pd.to_timedelta(
            OPEN_S + (since_open - OPEN_S) // CORR_INTERVAL_S * CORR_INTERVAL_S, "s")
        for p, paths in enumerate(self.corr):
            got = {os.path.basename(x): x for x in paths}
            if set(got) != set(want):
                _fail(f"corr: files {sorted(got)}, want {sorted(want)}")
                bad.add((p, "corr"))
                continue
            for name, start in want.items():
                w = pdf[pdf["win"] == start].pivot(index="bucket", columns="permno",
                                                   values="price").corr()
                m = pd.read_csv(got[name], index_col=0)
                m.columns = m.columns.astype(w.columns.dtype)
                if (list(m.index) != list(w.index) or list(m.columns) != list(w.columns)
                        or not _close(m.to_numpy(), w.to_numpy())):
                    _fail(f"corr {name}: differs from pandas' corr of the window")
                    bad.add((p, "corr"))
        return len(bad)


def _shingles(text: str) -> set[str]:
    """Distinct 3-word shingles of the lower-cased whitespace tokens
    (the whole text for texts under three words)."""
    t = text.lower().split()
    return {" ".join(t[i:i + 3]) for i in range(max(1, len(t) - 2))}


def _oracle_prices(t: dict, days: list, freq_s: int):
    """The long resampled price panel (date, permno, bucket, price) of
    ``days``, in pandas: midquotes inside market hours of the symbols
    linked that day (first ticker per permno), averaged per timestamp,
    the last one per ``freq_s`` bucket, forward-filled over a dense
    grid from each (permno, day)'s first to last bucket, clipped to
    market hours again; all bounds inclusive."""
    import pandas as pd

    def in_hours(ts):
        tod = (ts - ts.dt.normalize()).dt.total_seconds()
        return (tod >= OPEN_S) & (tod <= CLOSE_S)

    link = t["taqmclink"][t["taqmclink"]["date"].isin(days)]
    link = link.sort_values("ticker").drop_duplicates(["date", "permno"])
    sym = link["ticker"].str.partition(".")
    link = link.assign(root=sym[0], sfx=sym[2])[["date", "root", "sfx", "permno"]]
    q = t["nbbo"][t["nbbo"]["date"].isin(days)]
    q = q.assign(root=q["sym_root"], sfx=q["sym_suffix"].fillna(""),
                 price=(q["best_bid"] + q["best_ask"]) / 2).dropna(subset=["price"])
    q = q[in_hours(q["time_m"])].merge(link, on=["date", "root", "sfx"])
    q = q.groupby(["date", "permno", "time_m"], as_index=False)["price"].mean()
    q["bucket"] = q["time_m"].dt.floor(f"{freq_s}s")
    last = q.sort_values("time_m").groupby(["date", "permno", "bucket"])["price"].last()
    out = []
    for (d, p), g in last.groupby(level=["date", "permno"]):
        g = g.droplevel(["date", "permno"])
        g = g.reindex(pd.date_range(g.index[0], g.index[-1], freq=f"{freq_s}s")).ffill()
        out.append(pd.DataFrame({"date": d, "permno": p, "bucket": g.index, "price": g.values}))
    out = pd.concat(out, ignore_index=True)
    return out[in_hours(out["bucket"])]


def _universe_rows(t: dict, as_of) -> int:
    """Rows of the point-in-time universe: daily stock rows inside an
    index-membership spell, a name-validity range and a primary live
    link (open ends pinned to ``as_of``), all bounds inclusive."""
    def within(df, lo, hi):
        return df[(df["date"] >= df[lo]) & (df["date"] <= df[hi])]

    m = within(t["dsf"].merge(t["dsp500list"], on="permno"), "start", "ending")
    m = within(m.merge(t["msenames"], on="permno"), "namedt", "nameendt")
    links = t["ccmxpf_linktable"]
    links = links[links["linktype"].str[0].eq("L") & links["linkprim"].isin(["C", "P"])]
    links = links.assign(linkenddt=links["linkenddt"].where(links["linkenddt"].notna(), as_of))
    return len(within(m.merge(links, on="permno"), "linkdt", "linkenddt"))


def _corr_name(start) -> str:
    import pandas as pd

    end = start + pd.Timedelta(seconds=CORR_INTERVAL_S)
    return f"corr_{start:%Y%m%d_%H%M}_{end:%Y%m%d_%H%M}.csv"


def _close(a, b) -> bool:
    import numpy as np

    return a.shape == b.shape and bool(np.allclose(a, b, rtol=1e-6, atol=1e-9, equal_nan=True))


def _fail(msg: str) -> None:
    print(f"check failed: {msg}", file=sys.stderr)


WORKLOADS = {w.name: w for w in (BatchMix, CorpusIngest)}
