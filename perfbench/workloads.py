"""The pipeline workloads: one pass = every step of the pipeline, each
output checked against the generator's closed-form facts (crawl,
curation) or a DuckDB recomputation (star).

A pass returns its checks as (name, ok) pairs plus a checksum of its
outputs; the runner compares checksums across passes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from pyspark.sql import functions as F

from ascii_hydra_spark.catalog import Catalog
from ascii_hydra_spark.engine import HydraEngine
from ascii_hydra_spark.functions import surt_url
from ascii_hydra_spark.operators import asof, crawl, dedup, graph, relational, similarity, text, windows
from ascii_hydra_spark.plans import Pipeline
from ascii_hydra_spark import streaming

import generate as gen
from generate import dir_bytes

# 3, not the 10 of the paper's job: the run budget of the whole benchmark
# (every run pays a fresh JVM and a cold pass) leaves no room for more
PAGERANK_ITERATIONS = 3


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()


def _r(v):
    """Value rounded to 9 significant digits, so float sums that differ in
    the last bits between engines or passes compare and hash equal."""
    if isinstance(v, float):
        return float(f"{v:.9g}")
    return v


def _rows(rows) -> list[tuple]:
    out = [tuple(_r(x) for x in r) for r in rows]
    return sorted(out, key=lambda r: [(x is None, x if x is not None else 0) for x in r])


def _same(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-7, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


# what the sink wrapper in run.py records on every workload
SINK_SPANS = ("sources.write_parquet",)
SINK_COUNTERS = ("sources.bytes_written", "sources.files_written")


class Workload:
    """Shared pass context: session, tracer and the sink wrapper.

    A workload names the spans and counters its passes record; a traced run
    fails if one of them is missing, and reports 0 only for the layers the
    workload does not call."""

    name = ""
    spans: tuple[str, ...] = ()
    counters: tuple[str, ...] = ()

    @staticmethod
    def generate(out_dir: str, seed: int) -> dict:
        """Write the inputs for ``seed`` under ``out_dir``; return the manifest."""
        raise NotImplementedError

    def __init__(self, spark, tracer, inputs: str, manifest: dict, sink):
        self.spark = spark
        self.tr = tracer
        self.inputs = inputs
        self.m = manifest
        self.write_parquet = sink

    def prepare(self) -> None:
        """Work done once, outside every timed region."""

    def run_pass(self, out: str) -> tuple[list[tuple[str, bool]], str]:
        raise NotImplementedError


# ------------------------------------------------------------- crawl_graph


class CrawlGraph(Workload):
    """WARC -> status/type filter -> WAT outlinks -> domain graph -> PageRank
    -> top ranked, each stage a materialized asset of one plans.Pipeline."""

    name = "crawl_graph"
    spans = ("sources.warc.scan", "functions.surt_url", "operators.crawl.wat_outlinks",
             "operators.crawl.domain_link_aggr", "operators.graph.pagerank",
             "operators.graph.top_ranked", "plans.pipeline_run") + SINK_SPANS
    counters = ("sources.warc.records", "operators.crawl.edges_out",
                "operators.graph.rank_mass") + SINK_COUNTERS

    def run_pass(self, out):
        tr, warc_dir = self.tr, self.inputs
        p = Pipeline(base_path=out)

        @p.asset("pages")
        def pages(spark, deps):
            with tr.span("sources.warc.scan"):
                raw = tr.force(spark.read.format("warc").option("path", warc_dir).load())
                if tr.pass_traced:
                    tr.count("sources.warc.records", raw.count())
                html = tr.force(
                    raw.filter((F.col("http_status") == 200) & (F.col("content_type") == "text/html"))
                )
            with tr.span("functions.surt_url"):
                return tr.force(
                    html.select(surt_url("target_uri").alias("surt"), "target_uri", "warc_date", "body")
                )

        @p.asset("edges", deps=("pages",))
        def edges(spark, deps):
            with tr.span("operators.crawl.wat_outlinks"):
                return tr.force(crawl.wat_outlinks(deps["pages"]))

        @p.asset("domain_graph", deps=("edges",))
        def domain_graph(spark, deps):
            with tr.span("operators.crawl.domain_link_aggr"):
                return tr.force(crawl.domain_link_aggr(deps["edges"]))

        @p.asset("ranks", deps=("domain_graph",))
        def ranks(spark, deps):
            with tr.span("operators.graph.pagerank"):
                return tr.force(
                    graph.pagerank(deps["domain_graph"], iterations=PAGERANK_ITERATIONS,
                                   src="src_domain", dst="dst_domain")
                )

        with tr.span("plans.pipeline_run") as s:
            rep = p.run(self.spark)
            s["assets"] = len(rep)
            s["asset_max_s"] = max(r["duration_sec"] for r in rep.values())

        m = self.m
        agg = self.spark.read.parquet(f"{out}/domain_graph").agg(F.sum("n_links")).first()[0]
        ranks = self.spark.read.parquet(f"{out}/ranks")
        with tr.span("operators.graph.top_ranked"):
            top_rows = sorted(tuple(r) for r in graph.top_ranked(ranks, 20).collect())
        all_ranks = [(r[0], r[1]) for r in ranks.collect()]
        mass, n_nodes = math.fsum(r for _, r in all_ranks), len(all_ranks)
        expect_top = sorted(sorted(((n, round(r, 6)) for n, r in all_ranks), key=lambda r: (-r[1], r[0]))[:20])
        tr.count("operators.crawl.edges_out", rep["edges"]["row_count"])
        tr.count("operators.graph.rank_mass", mass)
        checks = [
            ("pages", rep["pages"]["row_count"] == m["pages"]),
            ("wat_edges", rep["edges"]["row_count"] == m["wat_edges"]),
            ("domain_edges", rep["domain_graph"]["row_count"] == m["host_edges"]),
            ("page_links", agg == m["page_links"]),
            ("rank_nodes", n_nodes == m["nodes"]),
            ("rank_mass", abs(mass - 1.0) <= 1e-9),
            ("top_ranked", top_rows == expect_top),
        ]
        return checks, _digest([rep["edges"]["row_count"], agg, n_nodes, _r(mass), top_rows])


# ------------------------------------------------------------ llm_curation


class LlmCuration(Workload):
    """Quality-gate stream -> exact dedup -> MinHash near-dup dedup ->
    boilerplate removal, plus embedding near-dup dedup."""

    name = "llm_curation"
    spans = ("operators.text.gopher_flags", "streaming.available_now", "operators.dedup.exact_dedup",
             "operators.dedup.minhash_lsh_pairs", "operators.dedup.cluster_dedup",
             "operators.text.remove_boilerplate", "operators.similarity.embedding_dedup") + SINK_SPANS
    counters = ("streaming.bytes_written", "streaming.batches", "streaming.rows_out",
                "operators.dedup.pairs_out", "operators.dedup.survivors",
                "operators.dedup.planted_recall", "operators.similarity.twin_recall") + SINK_COUNTERS

    def run_pass(self, out):
        tr, spark, m = self.tr, self.spark, self.m
        docs_dir = os.path.join(self.inputs, "docs")
        sink, ckpt = f"{out}/gated", f"{out}/_checkpoint"
        stream = streaming.read_parquet_stream(spark, docs_dir)
        if tr.pass_traced:  # the gate runs inside the stream; time it once in batch form
            with tr.span("operators.text.gopher_flags"):
                gate = text.gopher_quality_flags(spark.read.parquet(docs_dir), "doc_id", "text")
                gate.write.format("noop").mode("overwrite").save()
        gated_stream = (
            text.gopher_quality_flags(stream, "doc_id", "text", keep_cols=("text",))
            .filter(F.col("passes"))
            .select(F.col("id").alias("doc_id"), "text")
        )
        with tr.span("streaming.available_now"):
            streaming.run_available_now(gated_stream, sink_dir=sink, checkpoint_dir=ckpt)
        gated = spark.read.parquet(sink)
        n_gated = gated.count()
        tr.count("streaming.bytes_written", dir_bytes(sink))
        n_batches = len([f for f in os.listdir(f"{ckpt}/commits") if f.isdigit()])
        tr.count("streaming.batches", n_batches)
        tr.count("streaming.rows_out", n_gated)

        with tr.span("operators.dedup.exact_dedup"):
            exact = tr.force(dedup.exact_dedup(gated, ["text"], tiebreak=[F.col("doc_id")]))
        with tr.span("operators.dedup.minhash_lsh_pairs"):
            pairs = tr.force(dedup.minhash_lsh_pairs(exact, "doc_id", "text", threshold=0.8))
        with tr.span("operators.dedup.cluster_dedup"):
            kept = tr.force(dedup.cluster_dedup(exact, pairs, "doc_id"))
        with tr.span("operators.text.remove_boilerplate"):
            clean = tr.force(text.remove_boilerplate(kept, "doc_id", "text"))
        self.write_parquet(clean, f"{out}/curated")

        emb = spark.read.parquet(os.path.join(self.inputs, "embeddings"))
        with tr.span("operators.similarity.embedding_dedup"):
            emb_kept = tr.force(similarity.embedding_dedup(emb, threshold=0.99))
        self.write_parquet(emb_kept.select("vec_id", "label"), f"{out}/embeddings_kept")

        exact_ids = {r[0] for r in spark.read.parquet(sink).join(
            exact.select("doc_id"), "doc_id", "left_anti").select("doc_id").collect()}
        curated = spark.read.parquet(f"{out}/curated").select("doc_id", "text_clean").collect()
        cur_ids = sorted(r[0] for r in curated)
        footer = set(m["footer_words"])
        footer_hits = sum(1 for r in curated if footer.intersection(r[1].split()))
        emb_ids = {r[0] for r in spark.read.parquet(f"{out}/embeddings_kept").select("vec_id").collect()}
        n_pairs = pairs.count() if tr.pass_traced else 0
        cur_set = set(cur_ids)
        near_found = sum(1 for i in m["near_losers"] if i not in cur_set)
        exact_found = sum(1 for i in m["exact_losers"] if i in exact_ids)
        twins_found = sum(1 for i in m["twin_losers"] if i not in emb_ids)
        planted = len(m["near_losers"]) + len(m["exact_losers"])
        tr.count("operators.dedup.pairs_out", n_pairs)
        tr.count("operators.dedup.survivors", len(cur_ids))
        tr.count("operators.dedup.planted_recall", (near_found + exact_found) / planted)
        tr.count("operators.similarity.twin_recall", twins_found / len(m["twin_losers"]))
        checks = [
            ("gate_rows", n_gated == m["gate_pass"]),
            ("exact_recall", exact_found == len(m["exact_losers"])),
            ("near_recall", near_found == len(m["near_losers"])),
            ("survivors", len(cur_ids) == m["survivors"]),
            ("footer_removed", footer_hits == 0),
            ("twin_recall", twins_found == len(m["twin_losers"])),
            ("embeddings_kept", len(emb_ids) == m["vectors"] - len(m["twin_losers"])),
        ]
        return checks, _digest([cur_ids, sorted(emb_ids), n_gated])


# ---------------------------------------------------------- star_analytics

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
SQL_TABLES = ("region", "nation", "customer", "orders", "lineitem")  # what SQL names
REVENUE = "l_extendedprice * (1 - l_discount)"

# Catalog-resolved SQL: identical text runs on Spark and on DuckDB
SQL = {
    "pricing_summary": f"""
        SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,
               sum({REVENUE}) AS revenue, avg(l_discount) AS avg_disc
        FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "region_year_revenue": f"""
        SELECT r_name, year(o_orderdate) AS yr, count(*) AS n, sum({REVENUE}) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, year(o_orderdate)""",
}
SESSION_GAP_S = 7 * 86_400

ORACLE = {
    **SQL,
    "rollup": f"""
        SELECT r_name, n_name, CAST(grouping(r_name) AS INT), CAST(grouping(n_name) AS INT),
               sum({REVENUE}), count(*)
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey JOIN part ON l_partkey = p_partkey
        GROUP BY ROLLUP (r_name, n_name)""",
    "brand_revenue": f"""
        SELECT p_brand, sum({REVENUE}), count(*)
        FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""",
    "top_parts": f"""
        SELECT p_brand, p_partkey, rev FROM (
          SELECT p_brand, p_partkey, rev, row_number() OVER (
            PARTITION BY p_brand ORDER BY rev DESC, p_partkey) AS rn
          FROM (SELECT p_brand, p_partkey, sum({REVENUE}) AS rev
                FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand, p_partkey))
        WHERE rn <= 3""",
    "running": """
        SELECT count(*), sum(rs), max(rs) FROM (
          SELECT sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs FROM orders)""",
    "sessions": f"""
        SELECT count(*), sum(sid), count(DISTINCT (user_id, sid)) FROM (
          SELECT user_id, sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > {SESSION_GAP_S * 1_000_000}
                              THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
          FROM (SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events))""",
    "asof": """
        WITH o AS (SELECT o_orderkey, o_custkey AS user_id, o_orderdate AS ts FROM orders),
        m AS (SELECT o.o_orderkey, o.user_id, e.ts AS ets FROM o
              ASOF LEFT JOIN events e ON o.user_id = e.user_id AND o.ts >= e.ts)
        SELECT count(ev), sum(ev) FROM (
          SELECT m.o_orderkey, max(e.event_id) AS ev FROM m
          LEFT JOIN events e ON m.user_id = e.user_id AND m.ets = e.ts GROUP BY m.o_orderkey)""",
    "facts": f"""
        SELECT count(*), sum({REVENUE}) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey""",
    "asia_rows": """
        SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'""",
}


def _listing(path: str) -> dict[str, list[str]]:
    """partition dir -> sorted data file names."""
    out = {}
    for d in sorted(os.listdir(path)):
        if "=" in d:
            out[d] = sorted(f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet"))
    return out


class StarAnalytics(Workload):
    """Read phase: analyze + catalog SQL + relational, window and as-of
    operators, every result checked against DuckDB. Write phase: a
    partitioned plans.Pipeline, HydraEngine.materialize, then one partition
    rerun under dynamic overwrite."""

    name = "star_analytics"
    spans = ("catalog.analyze", "engine.sql", "catalog.load", "operators.relational.star_join",
             "operators.relational.rollup_agg", "operators.relational.salted_join",
             "operators.windows.top_n_per_group", "operators.windows.running_agg",
             "operators.windows.session_ids", "operators.asof.as_of_join", "plans.pipeline_run",
             "engine.materialize") + SINK_SPANS
    counters = ("engine.sql_queries", "catalog.rows_read", "catalog.bytes_read") + SINK_COUNTERS
    generate = staticmethod(gen.gen_star)

    def prepare(self):
        import duckdb

        con = duckdb.connect()
        try:
            for t in STAR_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.inputs}/{t}.parquet'")
            self.oracle = {k: _rows(con.execute(q).fetchall()) for k, q in ORACLE.items()}
        finally:
            con.close()

    def run_pass(self, out):
        tr, spark = self.tr, self.spark
        eng = HydraEngine(spark=spark, catalog=Catalog.for_dir(self.inputs), output_root=f"{out}/engine")
        with tr.span("catalog.analyze"):
            eng.analyze(SQL_TABLES)
        got: dict[str, list[tuple]] = {}
        for name, q in SQL.items():
            with tr.span("engine.sql"):
                got[name] = _rows(eng.sql(q).collect())
            tr.count("engine.sql_queries", 1)

        def load(name):
            with tr.span("catalog.load"):
                df = tr.force(eng.table(name))
            if tr.pass_traced:
                tr.count("catalog.rows_read", df.count())
                tr.count("catalog.bytes_read", dir_bytes(eng.catalog.path(name)))
            return df

        li, orders, cust, nation, region, part, events = (
            load(t) for t in ("lineitem", "orders", "customer", "nation", "region", "part", "events")
        )
        rev = F.expr(REVENUE)
        with tr.span("operators.relational.star_join"):
            facts = tr.force(relational.star_join(li, [
                (orders, F.col("l_orderkey") == F.col("o_orderkey")),
                (cust, F.col("o_custkey") == F.col("c_custkey")),
                (nation, F.col("c_nationkey") == F.col("n_nationkey")),
                (region, F.col("n_regionkey") == F.col("r_regionkey")),
                (part, F.col("l_partkey") == F.col("p_partkey")),
            ]).withColumn("revenue", rev))
        with tr.span("operators.relational.rollup_agg"):
            got["rollup"] = _rows(relational.rollup_agg(
                facts, ["r_name", "n_name"], {"revenue": F.sum("revenue"), "n": F.count(F.lit(1))}
            ).collect())
        with tr.span("operators.relational.salted_join"):
            sj = relational.salted_join(
                li.select("l_partkey", rev.alias("revenue")),
                part.select(F.col("p_partkey").alias("l_partkey"), "p_brand"),
                "l_partkey",
            )
            got["brand_revenue"] = _rows(
                sj.groupBy("p_brand").agg(F.sum("revenue"), F.count(F.lit(1))).collect()
            )
        with tr.span("operators.windows.top_n_per_group"):
            per_part = facts.groupBy("p_brand", "p_partkey").agg(F.sum("revenue").alias("rev"))
            got["top_parts"] = _rows(windows.top_n_per_group(
                per_part, ["p_brand"], [F.desc("rev"), F.col("p_partkey")], 3
            ).select("p_brand", "p_partkey", "rev").collect())
        with tr.span("operators.windows.running_agg"):
            run = tr.force(windows.with_running_agg(
                orders, ["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")], "o_totalprice"
            ))
            got["running"] = _rows(run.agg(F.count(F.lit(1)), F.sum("running_sum"), F.max("running_sum")).collect())
        with tr.span("operators.windows.session_ids"):
            sess = tr.force(windows.session_ids(events, ["user_id"], "ts", "event_id", gap_s=SESSION_GAP_S))
            got["sessions"] = _rows(sess.agg(
                F.count(F.lit(1)), F.sum("session_id"), F.countDistinct("user_id", "session_id")
            ).collect())
        with tr.span("operators.asof.as_of_join"):
            left = orders.select(
                "o_orderkey", F.col("o_custkey").alias("user_id"), F.col("o_orderdate").cast("timestamp").alias("ts")
            )
            aj = tr.force(asof.as_of_join(left, events.select("user_id", "ts", "event_id"), "user_id"))
            got["asof"] = _rows(aj.agg(F.count("asof_event_id"), F.sum("asof_event_id")).collect())

        # write phase
        pipe = Pipeline(base_path=f"{out}/pipeline")

        @pipe.asset("order_facts", partition_by=("r_name",))
        def order_facts(spark, deps, partition_key=None):
            df = facts.select("l_orderkey", "l_linenumber", "o_custkey", "n_name", "r_name",
                              F.year("o_orderdate").alias("yr"), "revenue")
            return df if partition_key is None else df.filter(F.col("r_name") == partition_key)

        with tr.span("plans.pipeline_run") as s:
            rep = pipe.run(spark)
            s["assets"] = len(rep)
            s["asset_max_s"] = max(r["duration_sec"] for r in rep.values())
        with tr.span("engine.materialize"):
            mat = eng.materialize(
                eng.sql(SQL["region_year_revenue"]), "region_year_revenue", partition_by=("r_name",)
            )
        before = _listing(f"{out}/pipeline/order_facts")
        with tr.span("plans.pipeline_run") as s:
            rerun = pipe.run(spark, partition_key="ASIA")
            s["assets"] = len(rerun)
            s["asset_max_s"] = max(r["duration_sec"] for r in rerun.values())
        after = _listing(f"{out}/pipeline/order_facts")
        written = spark.read.parquet(f"{out}/pipeline/order_facts")
        n_facts, rev_facts = written.agg(F.count(F.lit(1)), F.sum("revenue")).first()

        o = self.oracle
        checks = [(k, _same(v, o[k])) for k, v in got.items()]
        checks += [
            ("facts_rows", rep["order_facts"]["row_count"] == o["facts"][0][0]),
            ("materialize_rows", mat["row_count"] == len(o["region_year_revenue"])),
            ("rerun_rows", rerun["order_facts"]["row_count"] == o["asia_rows"][0][0]),
            ("rerun_other_partitions_kept",
             {k: v for k, v in before.items() if k != "r_name=ASIA"}
             == {k: v for k, v in after.items() if k != "r_name=ASIA"}
             and before.get("r_name=ASIA") != after.get("r_name=ASIA")),
            ("facts_after_rerun", _same([(n_facts, float(rev_facts))], o["facts"])),
        ]
        return checks, _digest([got, n_facts, _r(float(rev_facts))])


class CrawlCuration(Workload):
    """The web-corpus job: the crawl graph pipeline over WARC captures, then
    the LLM-data curation pipeline over a text corpus and its embeddings.
    One process pays the Python-worker start-up once for both halves."""

    name = "crawl_curation"
    spans = tuple(dict.fromkeys(CrawlGraph.spans + LlmCuration.spans))
    counters = tuple(dict.fromkeys(CrawlGraph.counters + LlmCuration.counters))
    generate = staticmethod(gen.gen_crawl_curation)

    def __init__(self, spark, tracer, inputs, manifest, sink):
        super().__init__(spark, tracer, inputs, manifest, sink)
        self.parts = (
            CrawlGraph(spark, tracer, os.path.join(inputs, "warc"), manifest["crawl"], sink),
            LlmCuration(spark, tracer, os.path.join(inputs, "curation"), manifest["curation"], sink),
        )

    def run_pass(self, out):
        checks, digests = [], []
        for part in self.parts:
            c, d = part.run_pass(os.path.join(out, part.name))
            checks += [(f"{part.name}.{n}", ok) for n, ok in c]
            digests.append(d)
        return checks, _digest(digests)


WORKLOADS = {w.name: w for w in (CrawlCuration, StarAnalytics)}
