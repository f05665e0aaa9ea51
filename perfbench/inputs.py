"""Seeded workload inputs.

Every table is produced by the ``crawler_spark.sources.corpus`` row mixers
over an id range that starts at a seed-derived offset. A seed therefore
changes the pages, links, seed URLs, robots host sample and retraction
slices, while the distributions stay those of the corpus generators: Zipf
host skew with one host holding 20% of pages, the detector class mix and
~10% dangling links.

The program only ever sees the generated DataFrames; the driver-side
copies collected here feed the untimed output checks.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.sources import corpus

# Offsets are multiples of 2^20, so id ranges of up to ~1M pages never
# overlap between seeds.
OFFSET_STRIDE = 1 << 20


def id_offset(seed: int) -> int:
    return (seed % (1 << 20)) * OFFSET_STRIDE


@dataclass
class CrawlInputs:
    pages: DataFrame
    links: DataFrame | None
    seeds: DataFrame | None
    robots: DataFrame | None

    def cached(self) -> list[DataFrame]:
        return [d for d in (self.pages, self.links, self.seeds, self.robots) if d is not None]

    def unpersist(self) -> None:
        for d in self.cached():
            d.unpersist()


def pages_df(spark: SparkSession, off: int, n: int, words: int, parts: int) -> DataFrame:
    num_warcs = max(4, n // 2_000)

    def gen(it):
        for pdf in it:
            yield corpus._pages_batch(pdf["id"].to_numpy(), num_warcs, body_words=words)

    return spark.range(off, off + n, numPartitions=parts).mapInPandas(
        gen, corpus.PAGES_SCHEMA
    )


def links_df(spark: SparkSession, off: int, n: int, fanout: int, parts: int) -> DataFrame:
    """``corpus.generate_links`` over the offset id range: targets stay
    inside [off, off+n) except the ~10% dangling ones just past it."""

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            fan = 1 + corpus._uint(ids, 70, 2 * fanout - 1)
            srcs, dsts = [], []
            for k in range(int(fan.max()) if len(ids) else 0):
                src = ids[fan > k]
                dangling = corpus._u01(src, 80 + k) < 0.10
                cycle = corpus._u01(src, 90 + k) < 0.05
                dst = off + corpus._uint(src, 100 + k, n)
                dst = np.where(cycle, np.maximum(src.astype(np.int64) - 1, off), dst)
                dst = np.where(dangling, dst + n, dst)
                srcs.append(src.astype(np.int64))
                dsts.append(dst.astype(np.int64))
            if not srcs:
                continue
            yield pd.DataFrame(
                {
                    "src_url": corpus._page_url_for_ids(np.concatenate(srcs)),
                    "dst_url": corpus._page_url_for_ids(np.concatenate(dsts)),
                }
            )

    return spark.range(off, off + n, numPartitions=parts).mapInPandas(
        gen, corpus.LINKS_SCHEMA
    )


def seeds_pdf(off: int, n_pages: int, n_seeds: int) -> pd.DataFrame:
    """``corpus.generate_seeds`` over the offset range: seed_id keeps the
    submission order 0..n-1, the page it names and the ~2% dead hosts
    depend on the seed."""
    sid = np.arange(n_seeds, dtype=np.int64)
    key = sid + off
    page_id = off + corpus._uint(key, 110, n_pages)
    dead = corpus._u01(key, 111) < 0.02
    url = corpus._page_url_for_ids(page_id)
    url = np.where(dead, pd.Series(sid).map(lambda s: f"https://dead{s}.invalid/"), url)
    return pd.DataFrame({"seed_id": sid, "url": pd.Series(url, dtype=object)})


def robots_df(spark: SparkSession, pages: DataFrame, seed: int) -> DataFrame:
    """Robots rules over a seed-chosen 1-in-20 host sample of the pages."""
    sample = pages.where(F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(20)) == 0)
    return corpus.generate_robots(spark, sample)


def build_crawl_inputs(
    spark: SparkSession,
    seed: int,
    n_pages: int,
    words: int,
    n_seeds: int | None,
    fanout: int = 8,
) -> CrawlInputs:
    """Pages (+ links, seeds, robots when ``n_seeds``), cached and counted."""
    parts = spark.sparkContext.defaultParallelism * 2
    off = id_offset(seed)
    pages = pages_df(spark, off, n_pages, words, parts).persist()
    links = seeds = robots = None
    if n_seeds:
        links = links_df(spark, off, n_pages, fanout, parts).persist()
        seeds = spark.createDataFrame(
            seeds_pdf(off, n_pages, n_seeds), corpus.SEEDS_SCHEMA
        ).persist()
        robots = robots_df(spark, pages, seed).persist()
    inp = CrawlInputs(pages, links, seeds, robots)
    for d in inp.cached():
        d.count()
    return inp


def retract_slice(seen: DataFrame, seed: int, cycle: int, modulus: int) -> DataFrame:
    """A seed- and cycle-chosen ~1/modulus slice of url_seen rows."""
    h = F.xxhash64("surt", F.lit(seed), F.lit(cycle))
    return seen.where(F.pmod(h, F.lit(modulus)) == 0)


# ------------------------------------------------ driver-side copies --


@dataclass
class CrawlOracleInputs:
    seeds: list[tuple[int, str]]
    page_urls: set[str]
    links: dict[str, list[str]]
    robots: dict[str, tuple[list[str], float | None]]


def collect_crawl(inp: CrawlInputs) -> CrawlOracleInputs:
    urls = inp.pages.select("url").toPandas()["url"]
    lk = inp.links.toPandas()
    links: dict[str, list[str]] = {}
    for s, d in zip(lk["src_url"], lk["dst_url"]):
        links.setdefault(s, []).append(d)
    seeds = [(int(r.seed_id), r.url) for r in inp.seeds.orderBy("seed_id").collect()]
    robots = {
        r["host"]: (list(r["disallow_prefixes"] or []), r["crawl_delay"])
        for r in inp.robots.collect()
    }
    return CrawlOracleInputs(seeds, set(urls), links, robots)
