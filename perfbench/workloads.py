"""The three workloads. Each drives the program only through public
functions of its ``session``, ``sources``, ``plans``, ``operators``,
``multimodal`` and ``streaming`` modules, one operation after another
(a closed loop with one client).

A workload has four phases: ``register`` its inputs (curation loads
its corpus inside each pass instead), ``warm_up`` (untimed: curation
runs a pass over a sample; cdc builds the table and starts the
stream; medallion has none, so its timed refresh is the first of
its process, like a scheduled batch job's), timed ``cycle`` calls, each
after an untimed ``prepare``, and ``check`` of the outputs the cycles
kept, run once after timing. ``instrument`` installs the traced run's
spans.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen


def _draw_window(rng, start: dt.date, span_days: int, width: int) -> tuple[str, str]:
    lo = start + dt.timedelta(days=int(rng.integers(0, span_days - width + 1)))
    return lo.isoformat(), (lo + dt.timedelta(days=width - 1)).isoformat()


def _sub_once(sql: str, old: str, new: str, count: int = 1) -> str:
    """Replace a parameter literal in an oracle query, insisting that
    it occurs exactly ``count`` times so a changed oracle fails the
    check instead of silently comparing other parameters."""
    found = len(re.findall(old, sql))
    if found != count:
        raise ValueError(f"oracle literal {old!r} found {found}x, expected {count}")
    return re.sub(old, new, sql)


def _trace_loads(tracer, owner) -> None:
    """Span ``owner.load_table`` as ``sources.catalog.load``, with the
    on-disk bytes of the table it loads."""

    def table_bytes(span, _result, _spark, sf_dir, name):
        span["attrs"]["bytes"] = os.path.getsize(f"{sf_dir}/{name}.parquet")

    tracer.wrap(owner, "load_table", "sources.catalog.load",
                detail=lambda _s, _d, name: name, after=table_bytes)


class Workload:
    PERIOD = 1  # a run times a whole number of this many cycles

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.kept: list = []  # per-cycle outputs for the checks

    @property
    def tracer(self):
        return self.ctx.tracer

    def register(self, spark) -> None:
        """Input registration; the medallion refresh loads its own."""
        self.spark = spark

    def warm_up(self) -> None:
        """Set-up work after registration; none by default."""

    def prepare(self, i: int) -> None:
        """Untimed work before cycle ``i``."""

    def close(self) -> None:
        pass

    def oracle(self, name: str, sql: str | None = None):
        from ecommerce_lakehouse_platform_spark import registry
        from tests.oracle_harness import run_oracle

        return run_oracle(sql or registry.ORACLES[name], self.ctx.in_dir)

    @staticmethod
    def same(spark_pdf, oracle_pdf) -> bool:
        from tests.oracle_harness import normalize

        if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
            print(f"perfbench check: columns {sorted(spark_pdf.columns)} != "
                  f"{sorted(oracle_pdf.columns)}", file=sys.stderr)
            return False
        # DuckDB returns a NULL date as NaT, Spark as None
        a, b = (normalize(df.astype(object).where(df.notna(), None))
                for df in (spark_pdf, oracle_pdf))
        if a != b:
            print(f"perfbench check: {len(a)} rows vs {len(b)} expected; e.g. "
                  f"{sorted(set(a) - set(b))[:2]} vs {sorted(set(b) - set(a))[:2]}",
                  file=sys.stderr)
        return a == b


# ---------------------------------------------------------------------------


class Medallion(Workload):
    """One ``run_pipeline`` refresh into a fresh warehouse, then one
    dashboard page (the four tiles in order) over that refresh."""

    TILES = ("product_performance", "sales_overview", "site_wide_funnel",
             "customer_360")
    OPS = ("refresh", *TILES)

    def __init__(self, ctx):
        super().__init__(ctx)
        rng = np.random.default_rng([ctx.seed, 1])
        days, edays = gen.SHAPE["order_days"], gen.SHAPE["event_days"]
        self.params = {
            "product_window": _draw_window(rng, gen.ORDER_START, days, 30),
            "sales_window": _draw_window(rng, gen.ORDER_START, days, 30),
            "funnel_window": _draw_window(rng, gen.EVENT_START, edays, 20),
            "product_top_n": int(rng.integers(50, 101)),
            "customer_top_n": int(rng.integers(500, 1001)),
        }
        self.wh = None

    def instrument(self) -> None:
        from ecommerce_lakehouse_platform_spark.plans import pipeline
        from ecommerce_lakehouse_platform_spark.sources import writers

        t, root = self.tracer, self.ctx.run_dir

        def rel(path):
            return os.path.relpath(path, root).split(os.sep, 2)[-1]

        def files_written(span, _result, _df, path, *a, **kw):
            files = glob.glob(f"{path}/**/part-*", recursive=True)
            span["attrs"]["files"] = len(files)
            span["attrs"]["bytes"] = sum(os.path.getsize(f) for f in files)

        _trace_loads(t, pipeline)
        t.wrap(pipeline, "write_table", "sources.writers.write",
               detail=lambda _df, path, *a, **kw: rel(path), after=files_written)
        t.wrap(pipeline, "read_table", "sources.writers.read",
               detail=lambda _s, path, *a, **kw: rel(path))
        t.wrap(writers, "read_table", "sources.writers.read",
               detail=lambda _s, path, *a, **kw: rel(path))
        t.wrap(pipeline, "table_counts", "sources.writers.count")
        t.wrap(pipeline, "expect", "operators.dq.expect",
               detail=lambda _df, name, *a, **kw: name)

    def prepare(self, i: int) -> None:
        if self.wh:
            shutil.rmtree(self.wh, ignore_errors=True)
        self.wh = f"{self.ctx.run_dir}/wh/{i}"

    def cycle(self, i: int) -> dict:
        from ecommerce_lakehouse_platform_spark.plans import dashboards, pipeline
        from ecommerce_lakehouse_platform_spark.sources import writers

        spark, p, wh = self.spark, self.params, self.wh
        t0 = time.perf_counter()
        result = pipeline.run_pipeline(spark, self.ctx.in_dir, wh)
        t1 = time.perf_counter()
        read = {n: writers.read_table(spark, f"{wh}/{n}") for n in (
            "silver/order_items", "silver/products", "silver/orders",
            "silver/events", "gold/customer_360")}
        tiles = {}
        with self.tracer.span("plans.dashboards.product_performance"):
            tiles["product_performance"] = dashboards.product_performance(
                read["silver/order_items"], read["silver/products"],
                *p["product_window"], top_n=p["product_top_n"]).toPandas()
        with self.tracer.span("plans.dashboards.sales_overview"):
            tiles["sales_overview"] = dashboards.sales_overview(
                read["silver/orders"], *p["sales_window"]).toPandas()
        with self.tracer.span("plans.dashboards.site_wide_funnel"):
            tiles["site_wide_funnel"] = dashboards.site_wide_funnel(
                read["silver/events"], *p["funnel_window"]).toPandas()
        with self.tracer.span("plans.dashboards.customer_360"):
            tiles["customer_360"] = dashboards.customer_360_dashboard(
                read["gold/customer_360"], top_n=p["customer_top_n"]).toPandas()
        t2 = time.perf_counter()
        self.kept.append({"tiles": tiles, "dq": result.dq_results, "wh": wh})
        return {"wall_s": t2 - t0, "refresh_s": t1 - t0, "dashboard_s": t2 - t1,
                "ops": list(self.OPS)}

    def check(self) -> list[str]:
        """Failed op names: the DQ gate, each cycle's tiles and the last
        refresh's gold tables against their DuckDB oracle twins."""
        from ecommerce_lakehouse_platform_spark import registry
        from ecommerce_lakehouse_platform_spark.sources import writers

        p = self.params
        oracles = {
            "product_performance": _sub_once(_sub_once(_sub_once(
                registry.ORACLES["dash_product_performance"],
                r"DATE '1996-01-01'", f"DATE '{p['product_window'][0]}'"),
                r"DATE '1997-12-31'", f"DATE '{p['product_window'][1]}'"),
                r"LIMIT 100\b", f"LIMIT {p['product_top_n']}"),
            "sales_overview": _sub_once(_sub_once(
                registry.ORACLES["dash_sales_overview"],
                r"DATE '1996-01-01'", f"DATE '{p['sales_window'][0]}'"),
                r"DATE '1997-12-31'", f"DATE '{p['sales_window'][1]}'"),
            "site_wide_funnel": _sub_once(_sub_once(
                registry.ORACLES["dash_site_funnel"],
                r"DATE '2024-01-01'", f"DATE '{p['funnel_window'][0]}'", 3),
                r"DATE '2024-01-31'", f"DATE '{p['funnel_window'][1]}'", 3),
            "customer_360": _sub_once(
                registry.ORACLES["dash_customer_360"],
                r"LIMIT 1000\b", f"LIMIT {p['customer_top_n']}"),
        }
        want = {tile: self.oracle(tile, sql) for tile, sql in oracles.items()}
        failed = []
        for k in self.kept:
            if not all(r.passed for r in k["dq"]):
                failed.append("refresh")
            failed += [t for t in self.TILES if not self.same(k["tiles"][t], want[t])]
        if self.kept:
            wh = self.kept[-1]["wh"]
            for table, query in (
                ("gold/daily_metrics", "gold_daily_metrics"),
                ("gold/product_metrics", "gold_product_metrics"),
                ("gold/product_funnel", "gold_product_funnel"),
                ("gold/session_metrics", "gold_session_metrics_attrs"),
                ("gold/customer_360", "gold_customer_360"),
            ):
                expect = self.oracle(query)
                got = writers.read_table(self.spark, f"{wh}/{table}")
                got = got.select(*expect.columns).toPandas()
                if not self.same(got, expect):
                    failed.append("refresh")
        return failed


# ---------------------------------------------------------------------------


class Curation(Workload):
    """One curation pass over the seeded corpus."""

    # kmeans_fit runs inside pq_fit_blocks, once per subvector block
    OPS = ("minhash_lsh", "dedup_clusters", "embedding_pairs", "pq_encode",
           "pq_search", "cosine_topk", "phash_dedup")

    def register(self, spark) -> None:
        super().register(spark)
        self.candidates = []

    def instrument(self) -> None:
        from ecommerce_lakehouse_platform_spark.operators import kmeans, neardup
        from ecommerce_lakehouse_platform_spark.sources import catalog

        t = self.tracer
        _trace_loads(t, catalog)
        t.wrap(kmeans, "kmeans_fit", "operators.kmeans.fit")

        verify = neardup._verify_exact_jaccard

        def keep_candidates(candidates, *a, **kw):
            # counted after the cycle, outside its timing
            self.candidates.append(candidates)
            return verify(candidates, *a, **kw)

        neardup._verify_exact_jaccard = keep_candidates

    def warm_up(self) -> None:
        """One pass over every fifth document and vector: it compiles,
        loads and starts (Python workers) what the timed pass uses, so
        that the timed pass does not carry the first pass's cold start,
        which varies from run to run."""
        self.cycle(-1, every=5)
        self.kept.clear()
        self.candidates.clear()

    def cycle(self, i: int, every: int = 1) -> dict:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from ecommerce_lakehouse_platform_spark.multimodal import binary
        from ecommerce_lakehouse_platform_spark.operators import (
            cluster, kmeans, neardup, similarity)
        from ecommerce_lakehouse_platform_spark.sources import catalog

        span, out = self.tracer.span, {}
        t0 = time.perf_counter()
        docs = self.docs = catalog.load_table(self.spark, self.ctx.in_dir, "documents")
        emb = catalog.load_table(self.spark, self.ctx.in_dir, "embeddings")
        if every > 1:
            docs = docs.filter(F.col("doc_id") % every == 0)
            emb = emb.filter(F.col("vec_id") % every == 0)
        with span("operators.neardup.minhash_lsh"):
            pairs = neardup.minhash_lsh_pairs(docs, num_perm=64, bands=32, threshold=0.5)
            out["minhash_lsh"] = pairs.toPandas()
        with span("operators.cluster.dedup_clusters"):
            # an explicit schema, since a sample may have no pairs
            out["dedup_clusters"] = cluster.dedup_clusters(
                docs.select("doc_id"),
                self.spark.createDataFrame(out["minhash_lsh"][["doc_a", "doc_b"]],
                                           "doc_a long, doc_b long"),
                "doc_id").toPandas()
        with span("operators.neardup.embedding_pairs"):
            out["embedding_pairs"] = neardup.embedding_neardup_pairs_bucketed(
                emb, threshold=0.4).toPandas()
        with span("operators.kmeans.pq_encode"):
            books = kmeans.pq_fit_blocks(emb, dim=64, n_blocks=4, k=16, n_iters=1)
            codes = kmeans.pq_encode(emb, dim=64, n_blocks=4, k=16, n_iters=1,
                                     codebooks=books)
            out["pq_encode"] = codes.toPandas()
        queries = emb.filter(F.col("vec_id") < 10)
        with span("operators.kmeans.pq_search"):
            out["pq_search"] = kmeans.pq_adc_topk(
                self.spark.createDataFrame(out["pq_encode"]), books, queries,
                dim=64, k=5).toPandas()
        with span("operators.similarity.topk"):
            out["cosine_topk"] = similarity.cosine_topk(emb, queries, k=5).toPandas()
        with span("multimodal.phash_dedup"):
            ph = binary.media_phash(binary.attach_binary_payload(docs), fake=True)
            w = Window.partitionBy("phash")
            canonical = F.min("media_id").over(w)
            out["phash_dedup"] = ph.select(
                "media_id", "phash", canonical.alias("canonical_media_id"),
                (F.col("media_id") != canonical).alias("is_duplicate"),
                F.count(F.lit(1)).over(w).alias("group_size"),
            ).toPandas()
        self.kept.append(out)
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "curate_s": wall, "ops": list(self.OPS)}

    def counts(self) -> dict:
        """Work counts of the last cycle, for the traced run."""
        out = self.kept[-1]
        cands = self.candidates[-1].count() if self.candidates else 0
        clusters = out["dedup_clusters"]
        return {
            "candidate_pairs": cands,
            "verified_pairs": len(out["minhash_lsh"]),
            "kept_ratio": float(clusters["is_canonical"].mean()),
        }

    def check(self) -> list[str]:
        oracle_of = {
            "minhash_lsh": "ext_dedup_minhash_lsh",
            "embedding_pairs": "ext_dedup_embedding",
            "pq_encode": "ext_pq_encode",
            "pq_search": "ext_pq_adc_search",
            "cosine_topk": "ext_similarity_topk",
            "phash_dedup": "ext_media_phash_dedup",
        }
        want = {op: self.oracle(q) for op, q in oracle_of.items()}
        want["dedup_clusters"] = _components(
            want["minhash_lsh"], self.docs.select("doc_id").toPandas())
        failed = []
        for out in self.kept:
            for op in self.OPS:
                got = out[op]
                if op == "dedup_clusters":
                    got = got[["doc_id", "cluster_id", "is_canonical"]]
                if not self.same(got, want[op]):
                    failed.append(op)
        return failed


def _components(pairs, docs):
    """Reference clustering: each doc's cluster is the smallest id of
    its connected component in the pair graph (union-find)."""
    parent = {int(d): int(d) for d in docs["doc_id"]}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = sorted(parent)
    roots = [find(d) for d in ids]
    return pd.DataFrame({"doc_id": ids, "cluster_id": roots,
                         "is_canonical": [r == d for r, d in zip(roots, ids)]})


# ---------------------------------------------------------------------------


class Cdc(Workload):
    """Seeded upsert batches into a mini-Delta orders table, drained by a
    long-running change-feed stream into a gold rollup."""

    OPS = ("batch",)
    BATCH_ROWS = 30  # 0.2 % of the orders
    INSERT_SHARE = 0.2
    RECENT_SCALE = 0.03  # exponential skew toward recent order keys
    # The log checkpoint and the rollup compaction both land on every
    # third batch. A run times whole multiples of two such periods: each
    # batch position equally often, and six batches at least, since one
    # batch's cost varies by about 15 % from the next.
    COMPACT_EVERY = CHECKPOINT_EVERY = 3
    PERIOD = 2 * COMPACT_EVERY
    KEYS = ["order_date"]
    params = {"batch_rows": BATCH_ROWS, "insert_share": INSERT_SHARE,
              "recent_scale": RECENT_SCALE, "compact_every": COMPACT_EVERY,
              "log_checkpoint_every": CHECKPOINT_EVERY}

    def register(self, spark) -> None:
        from pyspark.sql import functions as F

        from ecommerce_lakehouse_platform_spark.sources import catalog

        super().register(spark)
        orders = catalog.load_table(spark, self.ctx.in_dir, "orders")
        self.base = orders.select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_custkey").alias("customer_id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total_usd"),
            F.to_date("o_orderdate").alias("order_date"),
        )
        self.schema = self.base.schema
        self.query = None

    def warm_up(self) -> None:
        """Fresh table, state and checkpoint; start the stream, which
        drains the table's first snapshot (and so starts the Python
        workers the change feed reads with)."""
        from pyspark.sql import functions as F

        from ecommerce_lakehouse_platform_spark.sources.deltalog import MiniDeltaTable
        from ecommerce_lakehouse_platform_spark.streaming import cdf_source, gold_maintenance

        root = f"{self.ctx.run_dir}/cdc"
        shutil.rmtree(root, ignore_errors=True)
        self.path, self.state = f"{root}/orders", f"{root}/rollup"
        self.table = MiniDeltaTable(self.spark, self.path, self.CHECKPOINT_EVERY)
        self.table.write(self.base.repartitionByRange(16, "order_id"))
        snap = self.table.snapshot()
        self.active_files = len(snap.files)
        self.n_rows = self.base.count()
        self.bytes_per_row = sum(
            os.path.getsize(f"{self.path}/{f}") for f in snap.files) / self.n_rows
        self.dates = [
            d.as_py() for d in pq.read_table(
                f"{self.ctx.in_dir}/orders.parquet", columns=["o_orderdate"]
            ).column(0).cast("date32")]
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        stream = cdf_source.read_cdf_stream(self.spark, self.path)
        self.query = gold_maintenance.maintain_rollup_stream(
            stream, self.KEYS,
            {"net_orders": sign, "net_revenue": sign * F.col("total_usd")},
            self.state, f"{root}/checkpoint")
        self.query.processAllAvailable()
        self.batch_no = 0

    def _batch(self):
        """The next seeded upsert: updates skewed to recent order keys
        plus a few new orders on the latest date."""
        rng = np.random.default_rng([self.ctx.seed, 2, self.batch_no])
        n_ins = int(round(self.BATCH_ROWS * self.INSERT_SHARE))
        n_upd = self.BATCH_ROWS - n_ins
        top = len(self.dates) - 1
        upd = set()
        while len(upd) < n_upd:
            back = int(rng.exponential(self.RECENT_SCALE * len(self.dates)))
            upd.add(max(0, top - back))
        last = gen.ORDER_START + dt.timedelta(days=gen.SHAPE["order_days"] - 1)
        keys = sorted(upd) + list(range(len(self.dates), len(self.dates) + n_ins))
        # updates keep their order date; new orders land on the latest date
        self.dates += [last] * n_ins
        pdf = pd.DataFrame({
            "order_id": keys,
            "customer_id": rng.integers(0, gen.SHAPE["customers"], len(keys)),
            "status": [gen.STATUSES[j] for j in rng.integers(0, 3, len(keys))],
            "total_usd": np.round(rng.uniform(1000.0, 500000.0, len(keys)), 2),
            "order_date": [self.dates[k] for k in keys],
        })
        return self.spark.createDataFrame(pdf, schema=self.schema), n_ins

    def instrument(self) -> None:
        from ecommerce_lakehouse_platform_spark.sources.deltalog import MiniDeltaTable

        self.tracer.wrap(MiniDeltaTable, "checkpoint", "sources.deltalog.checkpoint")

    def prepare(self, i: int) -> None:
        self.src, self.n_ins = self._batch()
        self.batch_no += 1

    def cycle(self, i: int) -> dict:
        from ecommerce_lakehouse_platform_spark.streaming import gold_maintenance

        span = self.tracer.span
        t0 = time.perf_counter()
        with span("sources.deltalog.merge") as ms:
            version = self.table.merge(self.src, ["order_id"], prune_files=True)
        with span("streaming.cdf_source.drain"):
            self.query.processAllAvailable()
        if self.batch_no % self.COMPACT_EVERY == 0:
            with span("streaming.gold_maintenance.compact"):
                gold_maintenance.compact_rollup(self.spark, self.state, self.KEYS)
        with span("streaming.gold_maintenance.read_rollup"):
            rollup = gold_maintenance.read_rollup(
                self.spark, self.state, self.KEYS).toPandas()
        elapsed = time.perf_counter() - t0
        self.n_rows += self.n_ins
        if self.tracer.enabled:
            self._log_attrs(ms, version)
        self.kept.append((rollup, self.n_rows))
        return {"wall_s": elapsed, "batch_s": elapsed, "ops": list(self.OPS)}

    def _log_attrs(self, span: dict, version: int) -> None:
        with open(f"{self.path}/_delta_log/{version:020d}.json") as f:
            actions = [json.loads(line) for line in f]
        adds = [a["add"] for a in actions if "add" in a]
        removes = sum(1 for a in actions if "remove" in a)
        span["attrs"]["files_rewritten_ratio"] = removes / max(1, self.active_files)
        self.active_files += len(adds) - removes
        span["attrs"]["write_amp"] = sum(a["size"] for a in adds) / (
            self.BATCH_ROWS * self.bytes_per_row)
        span["attrs"]["log_bytes"] = sum(
            os.path.getsize(p) for p in glob.glob(f"{self.path}/_delta_log/*"))

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def check(self) -> list[str]:
        """Each kept rollup must count the table's rows; the final rollup
        must equal a batch aggregate over the final snapshot."""
        from pyspark.sql import functions as F

        failed = [
            "batch" for rollup, rows in self.kept
            if int(rollup["net_orders"].sum()) != rows
        ]
        snap = (self.table.read().groupBy("order_date").agg(
            F.count(F.lit(1)).alias("net_orders"),
            F.sum(F.col("total_usd").cast("decimal(30,6)")).alias("net_revenue"),
        ).toPandas())
        final = self.kept[-1][0] if self.kept else None
        if final is not None:
            final = final[final["net_orders"] != 0][["order_date", "net_orders", "net_revenue"]]
            final = final.assign(net_orders=final["net_orders"].astype("int64"))
            if not self.same(final, snap):
                failed.append("batch")
        return failed


WORKLOADS = {"medallion": Medallion, "curation": Curation, "cdc": Cdc}
