"""VTX1 part of the ``vortex_ingest`` workload: COPY, TPC-H scans, lookups.

Each pass copies ``lineitem`` from parquet to VTX1 with
``sources.vortex.write_sorted`` on ``l_orderkey`` (a
``df.write.format("vortex")`` of sorted partitions), binds it as a
``spark.read.format("vortex")`` view, runs TPC-H oracle SQL texts over
it in seeded order, and then runs seeded ``l_orderkey`` point lookups
with ``pushdown=true``: the format layer used three ways (writes, full
scans, selective reads). Every query and lookup result is
compared with the same SQL run by DuckDB over the parquet inputs.
"""

from __future__ import annotations

import glob
import os
import random
import time

from common import canonical, median, oracle_results

TABLES = ("lineitem",)
QUERIES = ["tpch_q1_pricing_summary", "tpch_q6_forecast_revenue"]
LOOKUPS = 3
# small enough that a key lookup has several lineitem chunks to prune
LINEITEM_CHUNK_ROWS = 8192
ENCODINGS = ("bitpack", "alp", "ree", "str_dict", "str_fsst", "list")
LAYER_METRICS = (
    *(f"vortex_format.{m}.{e}" for m in ("encode_mb_s", "decode_mb_s", "bytes_ratio") for e in ENCODINGS),
    "vortex_format.read_footer_ms",
    "vortex_format.read_chunk_mb_s",
    "sources.vortex.bind_s",
    "sources.vortex.chunks_planned_frac",
    "sources.vortex.copy_s",
    "sources.vortex.query_s",
    "sources.vortex.lookup_p50_s",
    "sources.vortex.stored_bytes_ratio",
    "sources.parquet_query_s",
)


def _lookup_sql(key: int) -> str:
    return f"SELECT * FROM lineitem WHERE l_orderkey = {key}"


class VortexPart:
    def __init__(self, ctx):
        import pyarrow.parquet as pq

        from duckdb_vortex_spark import catalog

        self.ctx = ctx
        spark, d = ctx.spark, ctx.data_dir
        self.lineitem = os.path.join(ctx.run_dir, "vtx", "lineitem")
        self.sql = {q: catalog.oracle_sql()[q] for q in QUERIES}
        self.rng = random.Random(ctx.seed)
        keys = pq.read_table(f"{d}/lineitem.parquet", columns=["l_orderkey"])["l_orderkey"]
        self.keys = self.rng.sample(sorted(set(keys.to_pylist())), LOOKUPS)
        self.expected = oracle_results(
            ctx, TABLES, {**self.sql, **{k: _lookup_sql(k) for k in self.keys}}
        )
        self.attempted = self.failed = 0
        self.copy_s, self.bind_s, self.query_s, self.lookup_s, self.planned = [], [], [], [], []

        # warm-up: spawn the Python workers the VTX1 writer and reader run in
        warm = os.path.join(ctx.run_dir, "warm")
        spark.range(0, 4096, numPartitions=ctx.cpus).write.format("vortex").mode(
            "overwrite"
        ).save(warm)
        spark.read.format("vortex").load(warm).count()

    def run_pass(self) -> None:
        """One copy + bind + queries + lookups."""
        from pyspark.sql import functions as F

        from duckdb_vortex_spark.sources import vortex

        ctx, spark, tr, d = self.ctx, self.ctx.spark, self.ctx.tracer, self.ctx.data_dir
        order = list(QUERIES)
        self.rng.shuffle(order)
        results, queries, lookups, failed = {}, [], [], set()
        src = spark.read.parquet(f"{d}/lineitem.parquet")
        with tr.span("write_sorted", "sources.vortex") as s:
            vortex.write_sorted(
                src, self.lineitem, ["l_orderkey"], chunk_rows=LINEITEM_CHUNK_ROWS, mode="overwrite"
            )
        self.copy_s.append(s["wall"])
        with tr.span("bind", "sources.vortex") as s:
            spark.read.format("vortex").load(self.lineitem).createOrReplaceTempView("lineitem")
        self.bind_s.append(s["wall"])
        for q in order:
            try:
                with tr.span(q, "queries.tpch") as s:
                    results[q] = spark.sql(self.sql[q]).toPandas()
                queries.append(s["wall"])
            except Exception as e:  # noqa: BLE001 — counted as failed
                failed.add(q)
                ctx.log(f"{q} failed: {e!r}")
        for k in self.keys:
            try:
                with tr.span("lookup", "sources.vortex", key=k) as s:
                    df = (
                        spark.read.format("vortex")
                        .option("pushdown", "true")
                        .load(self.lineitem)
                        .filter(F.col("l_orderkey") == k)
                    )
                    results[k] = df.toPandas()
                lookups.append(s["wall"])
                if tr.enabled:
                    self.planned.append(df.rdd.getNumPartitions())
            except Exception as e:  # noqa: BLE001
                failed.add(k)
                ctx.log(f"lookup {k} failed: {e!r}")
        self.attempted += 1 + len(order) + len(self.keys)
        for op in order + self.keys:
            if op not in failed and canonical(results[op]) != self.expected[op]:
                failed.add(op)
                ctx.log(f"{op}: VTX1 result differs from the parquet result")
        self.failed += len(failed)
        self.query_s.append(sum(queries))
        self.lookup_s.extend(lookups)

    def layers(self, more_files=()) -> dict:
        """Per-layer metrics; the format layer is also run on ``more_files``."""
        from duckdb_vortex_spark.sources import vortex_format as vfmt

        spark, d, tr = self.ctx.spark, self.ctx.data_dir, self.ctx.tracer
        files = sorted(glob.glob(f"{self.lineitem}/**/*.vortex", recursive=True))
        lay = {"sources.vortex.copy_s": median(self.copy_s)}
        lay["sources.vortex.bind_s"] = median(self.bind_s)
        lay["sources.vortex.query_s"] = median(self.query_s)
        lay["sources.vortex.lookup_p50_s"] = median(self.lookup_s)
        lay["sources.vortex.stored_bytes_ratio"] = sum(map(os.path.getsize, files)) / os.path.getsize(
            f"{d}/lineitem.parquet"
        )
        chunks = sum(len(vfmt.read_footer(f).chunks) for f in files)
        lay["sources.vortex.chunks_planned_frac"] = median(self.planned) / chunks

        # the same SQL over a parquet view: an in-workload control
        spark.read.parquet(f"{d}/lineitem.parquet").createOrReplaceTempView("lineitem")
        for _ in range(2):  # the first run warms the parquet scan path
            with tr.span("parquet_queries", "sources.parquet") as s:
                for q in self.sql.values():
                    spark.sql(q).toPandas()
        lay["sources.parquet_query_s"] = s["wall"]

        # format layer, called directly on every chunk of the copy and of
        # ``more_files``: per encoding [encode s, decode s, Arrow bytes, stored bytes]
        acc = {e: [0.0, 0.0, 0, 0] for e in ENCODINGS}
        footer_ms, chunk_bytes, chunk_t = [], 0, 0.0
        with tr.span("format_layer", "sources.vortex_format"):
            for f in files + list(more_files):
                t0 = time.perf_counter()
                footer = vfmt.read_footer(f)
                footer_ms.append((time.perf_counter() - t0) * 1e3)
                names = footer.schema.names
                for ci, chunk in enumerate(footer.chunks):
                    t0 = time.perf_counter()
                    chunk_bytes += vfmt.read_chunk(f, footer, ci, names).nbytes
                    chunk_t += time.perf_counter() - t0
                    with open(f, "rb") as fh:
                        for name in names:
                            cd = chunk["columns"][name]
                            if cd["enc"] not in acc:
                                continue
                            fh.seek(cd["off"])
                            buf = fh.read(cd["len"])
                            typ = footer.schema.field(name).type
                            t0 = time.perf_counter()
                            arr = vfmt.decode_column(cd["enc"], cd["meta"], buf, chunk["n_rows"], typ)
                            t1 = time.perf_counter()
                            vfmt.encode_column(arr)
                            t2 = time.perf_counter()
                            a = acc[cd["enc"]]
                            a[0] += t2 - t1
                            a[1] += t1 - t0
                            a[2] += arr.nbytes
                            a[3] += len(buf)
        for e, (enc_s, dec_s, raw, stored) in acc.items():
            lay[f"vortex_format.encode_mb_s.{e}"] = raw / 1e6 / enc_s if enc_s else 0.0
            lay[f"vortex_format.decode_mb_s.{e}"] = raw / 1e6 / dec_s if dec_s else 0.0
            lay[f"vortex_format.bytes_ratio.{e}"] = stored / raw if raw else 0.0
        lay["vortex_format.read_footer_ms"] = median(footer_ms)
        lay["vortex_format.read_chunk_mb_s"] = chunk_bytes / 1e6 / chunk_t if chunk_t else 0.0
        return lay
