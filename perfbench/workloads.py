"""The benchmark workloads: inputs, the timed job, the traced pipeline
prefixes and the independent DuckDB computation each output is checked
against.

Inputs come from a fixed synthetic ``documents`` dimension (written into
the run's work directory) and the seed. The seed shifts the page-id
range, from which every derived page column comes (url, coordinates,
crawl time, hot-cell membership), and picks the resume delta. The page
derivation itself is the program's own (``pages._derive_pages``, twin of
``pages.PAGES_CTE``), so inputs change whenever the program's
synthesis does.

Every output goes to the noop sink and is reduced, on the way, to a row
count plus order-independent integer sums (``CHECKSUM_*`` below). The sums are SQL expressions valid in both
Spark and DuckDB, so one definition serves the program's side and the
independent side.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from optimizerasters_spark import contract
from optimizerasters_spark import ledger as L
from optimizerasters_spark import pages as P
from optimizerasters_spark import tiling
from optimizerasters_spark.engine import Engine, JobConf
from optimizerasters_spark.operators import dedup as D
from optimizerasters_spark.operators import spatial
from optimizerasters_spark.operators import text as T
from optimizerasters_spark.operators import training
from optimizerasters_spark.operators import web as W

N_DOCS = 1000
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")

# (full, smallest) input sizes in pages; the smallest serve the self-test.
# corpus_build holds three replicas of every document.
SIZES = {
    "corpus_build": (3 * N_DOCS, 3 * N_DOCS // 2),
    "ingest_resume": (2_000, 1_000),
    "tile_join": (100_000, 20_000),
}
DELTA_SHARE = 0.05

P31 = 2147483647
CHECKSUM_TILES = (
    "page_count",
    f"(polygon_id * 1000003 + tile_x * 1009 + tile_y) % {P31}"
    f" * page_count % {P31}")
CHECKSUM_SHARDS = (
    "n_tokens",
    f"(((doc_id % {P31}) * 1000003 + cum_before % 1000003) % {P31} * 1009"
    f" + n_tokens * 31 + shard_id * 7 + ascii(lang) * 131"
    f" + ascii(substr(lang, 2, 1))) % {P31}")
CHECKSUM_PAGE_POLYS = (
    "doc_id % 1000003",
    f"(doc_id % {P31} * 1009 + coalesce(polygon_id, 997)) % {P31}")
CHECKSUM_L0 = (
    "page_count",
    f"(tile_x * 1009 + tile_y) * page_count % {P31}")


def write_documents(path: str) -> None:
    """The documents dimension every page draws its text and language
    from: fixed (not seeded), shaped like the repository's test data —
    a 30-word vocabulary, 10-100 tokens — plus a few short documents
    for the quality gate to drop."""
    rng = np.random.RandomState(20250101)
    lens = rng.randint(10, 101, N_DOCS)
    lens[rng.rand(N_DOCS) < 0.03] = 3
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
    }).to_parquet(path, index=False)


def page_offset(seed: int) -> int:
    return (seed * 1_000_003) % 1_000_000_007


def _replica_text(replica):
    """synth_docs_scaled's duplicate mix: odd replicas are byte-exact
    copies, even replicas above 0 carry a one-token suffix. Replicas
    count from the start of the page range, so every seed has the same
    family shape."""
    return (F.when((replica > 0) & (replica % 2 == 0),
                   F.concat(F.col("text"), F.lit(" r"),
                            replica.cast("string")))
             .otherwise(F.col("text")))


DUCK_REPLICA_TEXT = (
    "CASE WHEN r.rep > 0 AND r.rep % 2 = 0 "
    "THEN d.text || ' r' || CAST(r.rep AS VARCHAR) ELSE d.text END")


def pages_df(spark: SparkSession, dim_path: str,
             ranges: list[tuple[int, int]], mix: bool = False) -> DataFrame:
    """synth_pages_scaled over explicit page-id ranges: page i takes its
    text from document i % N_DOCS and every other column from i."""
    ids = None
    for lo, hi in ranges:
        r = spark.range(lo, hi)
        ids = r if ids is None else ids.unionByName(r)
    base = ids.select(F.col("id").alias("page_id"),
                      (F.col("id") % N_DOCS).alias("doc_id"))
    d = spark.read.parquet(dim_path).select("doc_id", "text", "lang")
    joined = (base.join(F.broadcast(d), "doc_id").drop("doc_id")
              .withColumnRenamed("page_id", "doc_id"))
    if mix:
        lo = ranges[0][0]
        joined = joined.withColumn(
            "text", _replica_text(F.floor((F.col("doc_id") - lo) / N_DOCS)
                                  .cast("bigint")))
    return P._derive_pages(joined)


def duck_reduce(con, sql: str, checksum: tuple[str, str]) -> tuple[int, ...]:
    sums = ", ".join(f"CAST(SUM({e}) AS HUGEINT)" for e in checksum)
    r = con.execute(f"SELECT COUNT(*), {sums} FROM ({sql}) q").fetchone()
    return tuple(int(x or 0) for x in r)


def duck_connect(work: str, dim_path: str):
    import duckdb
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    con.execute(f"CREATE TABLE dim AS SELECT doc_id, text, lang "
                f"FROM read_parquet('{dim_path}')")
    return con


def duck_documents(con, ranges: list[tuple[int, int]],
                   mix: bool = False) -> None:
    """The DuckDB ``documents`` view PAGES_CTE derives pages from."""
    first = ranges[0][0]
    ids = " UNION ALL ".join(
        f"SELECT range AS id, (range - {first}) // {N_DOCS} AS rep "
        f"FROM range({lo}, {hi})" for lo, hi in ranges)
    text = DUCK_REPLICA_TEXT if mix else "d.text"
    con.execute(f"""CREATE OR REPLACE VIEW documents AS
        SELECT r.id AS doc_id, {text} AS text, d.lang
        FROM ({ids}) r JOIN dim d ON d.doc_id = r.id % {N_DOCS}""")


def noop_reduce(df: DataFrame, checksum: tuple[str, ...] = ()
                ) -> tuple[int, ...]:
    """Send ``df`` to the noop sink and return (rows, sum of each
    checksum expression) of what went through, gathered by an
    Observation on the same job."""
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("rows"),
                *[F.sum(F.expr(e).cast("decimal(38,0)")).alias(f"c{i}")
                  for i, e in enumerate(checksum)])
     .write.mode("overwrite").format("noop").save())
    got = obs.get
    return (int(got.get("rows", 0)),
            *[int(got.get(f"c{i}") or 0) for i in range(len(checksum))])


# the row count of most prefixes is "<layer>.rows"; these carry the
# names the layer's own metric already has
ROWS_METRIC = {"web.hygiene": "web.rows_out",
               "spatial.pip": "spatial.pip_match_rows"}


def rows_metric(layer: str) -> str:
    return ROWS_METRIC.get(layer, f"{layer}.rows")


class Inputs:
    """Work directory, documents dimension and seed of one run."""

    def __init__(self, spark: SparkSession, work: str, seed: int,
                 small: bool):
        self.spark, self.work, self.seed, self.small = \
            spark, work, seed, small
        self.dim_dir = os.path.join(work, "dim")
        os.makedirs(self.dim_dir, exist_ok=True)
        self.dim_path = os.path.join(self.dim_dir, "documents.parquet")
        write_documents(self.dim_path)
        self.offset = page_offset(seed)

    def size(self, workload: str) -> int:
        full, smallest = SIZES[workload]
        return smallest if self.small else full


# ---------------------------------------------------------------------------
# tile_join: url shuffle, tiling, PIP join, per-(polygon, tile) counts.
# Not a workload of its own: ingest_resume's traced run sweeps these
# prefixes over a read-only page range.
# ---------------------------------------------------------------------------

class TileJoin:
    name = "tile_join"
    checksum = CHECKSUM_TILES

    def __init__(self, inp: Inputs):
        self.inp = inp
        self.n = inp.size(self.name)
        self.ranges = [(inp.offset, inp.offset + self.n)]
        self.boundaries = P.synth_boundaries(inp.spark)

    def layers(self) -> list[tuple[str, DataFrame]]:
        """Cumulative pipeline prefixes, each cut just after one layer's
        public call."""
        p = (pages_df(self.inp.spark, self.inp.dim_path, self.ranges)
             .select("url", "doc_id", "warc_epoch", "lon_md", "lat_md"))
        latest = D.dedup_latest(p)
        tiled = spatial.with_tiles(latest)
        joined = spatial.pip_join(tiled, self.boundaries, how="inner")
        counts = (joined.groupBy("polygon_id", "tile_x", "tile_y")
                  .agg(F.count(F.lit(1)).alias("page_count")))
        return [("pages.scan", p), ("dedup.latest", latest),
                ("spatial.tiles", tiled), ("spatial.pip", joined),
                ("spatial.aggregate", counts)]

    def expected(self, con) -> tuple[tuple[int, ...], dict[str, int]]:
        duck_documents(con, self.ranges)
        sql = f"""
            SELECT j.polygon_id, t.tile_x, t.tile_y,
                   COUNT(*) AS page_count
            FROM ({contract.ORACLES['pip_join']}) j
            JOIN ({contract.ORACLES['tile_assign']}) t USING (doc_id)
            GROUP BY ALL"""
        return duck_reduce(con, sql, self.checksum), {}

    def trace_counts(self, layer: dict[str, float]) -> dict[str, float]:
        """PIP candidates: pages x cover cells sharing their cell, the
        equi-join the inner pip_join probes before its refine predicate
        (Spark fuses that predicate into the join, so no operator
        reports the candidates). Matches are the pip prefix's rows."""
        tiled = dict(self.layers())["spatial.tiles"]
        cell = tiling.pack_cell_col(
            F.floor(F.col("lon_md") / spatial.COVER_CELL_MD),
            F.floor(F.col("lat_md") / spatial.COVER_CELL_MD))
        n_cand = tiled.withColumn("cell", cell).join(
            F.broadcast(spatial.polygon_cover_df(self.boundaries)),
            "cell").count()
        n_match = layer["spatial.pip_match_rows"]
        return {"spatial.pip_candidate_rows": float(n_cand),
                "spatial.pip_yield": n_match / n_cand if n_cand else 0.0}


# ---------------------------------------------------------------------------
# corpus_build: web hygiene, exact + LSH near-dup, quality gate,
# decontamination, shard packing
# ---------------------------------------------------------------------------

N_HOSTS = 997  # pages.py: host = doc_id % 997


def _duck_blocked(h: str, path: str) -> str:
    return (f"({h} % 10 = 3 OR ({h} % 10 = 7 AND starts_with({path}, '/p/1')"
            f" AND NOT starts_with({path}, '/p/12')) OR {h} % 17 = 5)")


class CorpusBuild:
    """Robots rules disallow every page of one host in ten and the
    /p/1 (but not /p/12) pages of another one in ten; the blocklist holds
    one host in seventeen. Together they drop about 15 % of the pages,
    so every later stage still has work."""

    name = "corpus_build"
    checksum = CHECKSUM_SHARDS
    stages = ("web.hygiene", "dedup.latest", "dedup.exact",
              "dedup.neardup", "training.kept", "text.decontam",
              "text.pack")

    def __init__(self, inp: Inputs):
        spark = inp.spark
        self.inp = inp
        self.n = inp.size(self.name)
        self.ranges = [(inp.offset, inp.offset + self.n)]
        hosts = spark.range(N_HOSTS).select(
            F.concat(F.lit("site"), F.col("id").cast("string"),
                     F.lit(".example")).alias("host"), "id")
        h = F.col("id")
        self.robots = hosts.select(
            "host",
            F.when(h % 10 == 3, F.lit("User-agent: *\nDisallow: /p/\n"))
             .when(h % 10 == 7, F.lit("User-agent: *\nDisallow: /p/1\n"
                                      "Allow: /p/12\n"))
             .otherwise(F.lit("User-agent: evilbot\nDisallow: /p/\n"))
             .alias("robots_txt"))
        self.blocked = hosts.where(h % 17 == 5) \
            .select(F.col("host").alias("bdom"))
        self.bench = (spark.read.parquet(inp.dim_path)
                      .where(F.col("doc_id") % 97 == 0)
                      .select("doc_id", "text"))

    def input_rows(self) -> int:
        return self.n

    def _pages(self) -> DataFrame:
        return pages_df(self.inp.spark, self.inp.dim_path, self.ranges,
                        mix=True)

    def output(self) -> DataFrame:
        return training.corpus_pipeline(
            self._pages(), robots=self.robots, blocked=self.blocked,
            benchmark=self.bench)

    def layers(self) -> list[tuple[str, DataFrame]]:
        """corpus_pipeline recomposed from the same public calls in the
        same order, cut after each layer. The traced run checks that the
        last prefix equals corpus_pipeline's output."""
        canon = (W.url_canonicalize(self._pages())
                 .withColumn("url", F.col("canon_url"))
                 .drop("canon_url", "changed"))
        hyg = W.blocklist_filter(
            W.robots_filter(canon, self.robots).drop("host"),
            self.blocked).drop("host")
        docs = D.dedup_latest(hyg).select("doc_id", "text", "lang")
        reps = docs.join(D.dedup_exact(docs).select("doc_id"), "doc_id",
                         "left_semi")
        victims = (D.ngram_jaccard_pairs(
            reps, min_jaccard_micro=training.JACCARD_MICRO)
            .select(F.col("doc_b").alias("doc_id")).distinct())
        survivors = reps.join(victims, "doc_id", "left_anti")
        kept = training.training_kept(docs)
        dirty = (T.ngram_contamination(kept.select("doc_id", "text"),
                                       self.bench)
                 .where(F.col("contaminated")).select("doc_id"))
        clean = kept.join(dirty, "doc_id", "left_anti")
        packed = T.pack_shards(clean, 4096)
        return list(zip(self.stages, (hyg, docs, reps, survivors, kept,
                                      clean, packed)))

    def expected(self, con) -> tuple[tuple[int, ...], dict[str, int]]:
        """The whole build in DuckDB: hygiene from the host arithmetic,
        then the training_flagship oracle's dedup + LSH + Jaccard CTEs,
        the quality gate, the decontaminate oracle's n-gram rule against
        this benchmark slice, and the shard_pack oracle."""
        duck_documents(con, self.ranges, mix=True)
        host, path = "(doc_id % 997)", "('/p/' || CAST(doc_id AS VARCHAR))"
        con.execute(f"""CREATE OR REPLACE TABLE hyg AS
            WITH {P.PAGES_CTE.strip()}
            SELECT doc_id, text, lang FROM pages
            WHERE NOT {_duck_blocked(host, path)}""")
        oracle = contract.ORACLES["training_flagship"]
        cut = oracle.find("\ng AS (")
        chain = oracle[:cut]
        if cut < 0 or chain.count("FROM documents") != 1:
            raise RuntimeError("training_flagship oracle changed shape; "
                               "update the corpus_build twin")
        chain = chain.replace("FROM documents", "FROM hyg")
        toks = "string_split(lower(text), ' ')"
        con.execute(f"""CREATE OR REPLACE TABLE reps_t AS
            {chain.rstrip().rstrip(',')}
            SELECT r.doc_id, r.text, r.lang,
                   r.doc_id IN (SELECT doc_id FROM victims) AS victim
            FROM reps r""")
        con.execute(f"""CREATE OR REPLACE TABLE kept_t AS
            SELECT doc_id, text, lang FROM reps_t
            WHERE NOT victim AND len({toks}) >= {training.MIN_TOKENS}
              AND FLOOR(length(text) * 1000000 / GREATEST(len({toks}), 1))
                  <= {training.MAX_MEAN_WL_MICRO}""")
        grams = ("unnest(list_distinct(list_transform("
                 "generate_series(0, len(t) - 5), "
                 "i -> array_to_string(t[i+1:i+5], ' '))))")
        con.execute(f"""CREATE OR REPLACE TABLE clean_t AS
            WITH kg AS (SELECT doc_id, {grams} AS g
                        FROM (SELECT doc_id, {toks} AS t FROM kept_t)
                        WHERE len(t) >= 5),
            bg AS (SELECT DISTINCT {grams} AS g
                   FROM (SELECT {toks} AS t FROM dim
                         WHERE doc_id % 97 = 0) WHERE len(t) >= 5)
            SELECT * FROM kept_t WHERE doc_id NOT IN
              (SELECT kg.doc_id FROM kg JOIN bg USING (g))""")
        con.execute("CREATE OR REPLACE VIEW documents AS "
                    "SELECT * FROM clean_t")
        out = duck_reduce(con, contract.ORACLES["shard_pack"], self.checksum)
        count = lambda q: con.execute(q).fetchone()[0]  # noqa: E731
        rows = {
            "web.hygiene": count("SELECT COUNT(*) FROM hyg"),
            # canonical urls are unique per page id: latest-per-url keeps
            # every hygiene survivor
            "dedup.latest": count("SELECT COUNT(*) FROM hyg"),
            "dedup.exact": count("SELECT COUNT(*) FROM reps_t"),
            "dedup.neardup": count(
                "SELECT COUNT(*) FROM reps_t WHERE NOT victim"),
            "training.kept": count("SELECT COUNT(*) FROM kept_t"),
            "text.decontam": count("SELECT COUNT(*) FROM clean_t"),
            "text.pack": out[0],
        }
        return out, rows

    def trace_counts(self, layer: dict[str, float]) -> dict[str, float]:
        """LSH candidate pairs over the exact-dedup survivors and the
        pairs the exact Jaccard check confirms, in one job."""
        reps = dict(self.layers())["dedup.exact"]
        r = (D.ngram_jaccard_pairs(reps, min_jaccard_micro=0)
             .agg(F.count(F.lit(1)),
                  F.count(F.when(F.col("jaccard_micro") >=
                                 training.JACCARD_MICRO, 1)))
             .first())
        n_cand, n_ver = int(r[0]), int(r[1])
        return {"dedup.lsh_pairs": float(n_cand),
                "dedup.verified_pairs": float(n_ver),
                "dedup.lsh_yield": n_ver / n_cand if n_cand else 0.0}


# ---------------------------------------------------------------------------
# ingest_resume: Engine.run over the base pages, then again over
# base + a 5 % delta of new urls
# ---------------------------------------------------------------------------

ENGINE_STAGES = ("process", "retry", "finalize", "til_finalize")


class IngestResume:
    name = "ingest_resume"

    def __init__(self, inp: Inputs):
        self.inp = inp
        self.n = inp.size(self.name)
        self.n_delta = max(1, int(self.n * DELTA_SHARE))
        base = (inp.offset, inp.offset + self.n)
        # the seed also places the delta's id range past the base
        gap = 1 + (inp.seed * 7919) % 100_000
        delta = (base[1] + gap, base[1] + gap + self.n_delta)
        self.base_ranges, self.all_ranges = [base], [base, delta]
        self.engine_root = os.path.join(inp.work, "engine")
        self.ingested = os.path.join(inp.work, "ingested")
        self._expected = None

    def input_rows(self) -> int:
        return self.n + self.n_delta

    def _pages(self, ranges) -> DataFrame:
        return pages_df(self.inp.spark, self.inp.dim_path, ranges)

    def _engine_run(self, wd: str, phase: str, tag: str) -> dict:
        spark = self.inp.spark
        engine = Engine(JobConf(sf_dir=self.inp.dim_dir, workdir=wd))
        group = f"engine.{phase}#{tag}"
        spark.sparkContext.setJobGroup(group, group)
        ranges = self.base_ranges if phase == "ingest" else self.all_ranges
        t0 = time.perf_counter()
        engine.run(spark, self._pages(ranges))
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobGroup("bench", "bench")
        return {f"{phase}_s": wall, f"{phase}_engine": engine,
                f"{phase}_group": group}

    def ingest(self, tag: str) -> dict:
        """The base pages into a fresh work dir, which every ``resume``
        starts from a copy of."""
        out = {"workdir": self.ingested,
               **self._engine_run(self.ingested, "ingest", tag)}
        out["job_s"] = out["ingest_s"]
        return out

    def resume(self, tag: str) -> dict:
        """Base + delta on a copy of the ingested work dir; ``job_s`` is
        the Engine run alone."""
        wd = os.path.join(self.engine_root, tag)
        shutil.copytree(self.ingested, wd)
        out = {"workdir": wd, **self._engine_run(wd, "resume", tag)}
        out["job_s"] = out["resume_s"]
        return out

    def expected(self, con) -> tuple[tuple[int, ...], tuple[int, ...]]:
        """Oracle (doc_id, polygon_id) PIP-left pairs and level-0 page
        counts per tile over base + delta; computed once per run."""
        if self._expected is None:
            duck_documents(con, self.all_ranges)
            self._expected = (
                duck_reduce(con, contract.ORACLES["pip_join_left"],
                            CHECKSUM_PAGE_POLYS),
                duck_reduce(
                    con, f"SELECT tile_x, tile_y, COUNT(*) AS page_count "
                         f"FROM ({contract.ORACLES['tile_assign']}) "
                         f"GROUP BY ALL", CHECKSUM_L0))
        return self._expected

    def check(self, con, wd: str) -> tuple[bool, str]:
        """Every base + delta url is processed=yes; page_tiles holds the
        PIP-left pairs of the oracle; the level-0 manifest counts equal
        the oracle's pages per tile and sum to the page count."""
        spark = self.inp.spark
        urls = self._pages(self.all_ranges).select("url")
        led = L.read_ledger(spark, wd)
        n_in = self.input_rows()
        n_yes = (led.where(F.col("processed") == L.YES)
                 .join(urls, "url", "left_semi").count())
        if n_yes != n_in or led.count() != n_in:
            return False, f"ledger: {n_yes} of {n_in} urls processed=yes"
        tiles = (spark.read.parquet(os.path.join(wd, "page_tiles"))
                 .dropDuplicates(["url", "polygon_id"]))
        got_pp = noop_reduce(tiles, CHECKSUM_PAGE_POLYS)
        man = (spark.read.parquet(os.path.join(wd, "manifest"))
               .where(F.col("level") == 0))
        got_l0 = noop_reduce(man, CHECKSUM_L0)
        want_pp, want_l0 = self.expected(con)
        if got_pp != want_pp:
            return False, f"page_tiles {got_pp} != oracle {want_pp}"
        if got_l0 != want_l0 or got_l0[1] != n_in:
            return False, f"level-0 manifest {got_l0} != oracle {want_l0}"
        return True, ""

    def stage_metrics(self, run: dict) -> dict[str, float]:
        """Engine.get_metrics() stage wall times of the resume run, the
        rest of its wall time, and its exact Spark job count."""
        spark = self.inp.spark
        eng = run["resume_engine"]
        rows = (eng.get_metrics(spark)
                .where((F.col("run_id") == eng.run_id) &
                       (F.col("partition_id") == -1))
                .select("stage", "wall_ms").collect())
        walls = {r["stage"]: r["wall_ms"] / 1000.0 for r in rows}
        out = {f"engine.{s}_s": walls.get(s, 0.0) for s in ENGINE_STAGES}
        out["engine.unstaged_s"] = run["resume_s"] - sum(
            walls.get(s, 0.0) for s in ENGINE_STAGES)
        tracker = spark.sparkContext.statusTracker()
        out["engine.spark_jobs"] = float(
            len(tracker.getJobIdsForGroup(run["resume_group"])))
        return out

    def ledger_probe(self, time_fn) -> dict[str, float]:
        """Time the ledger read and the pending anti-join a resume does
        on the ingested work dir, and count the pending rows."""
        spark, wd = self.inp.spark, self.ingested

        def read():
            return L.read_ledger(spark, wd)

        def pend():
            todo = D.dedup_latest(self._pages(self.all_ranges))
            return L.pending(todo, read(), "processed", "url")

        out = {"ledger.read_s": time_fn("ledger.read", read),
               "ledger.pending_s": time_fn("ledger.pending", pend)}
        out["ledger.pending_s"] -= out["ledger.read_s"]
        out["ledger.pending_rows"] = float(noop_reduce(pend())[0])
        return out
