"""Output checks, run after the timed window. Each returns a list of problems
(empty when the output is right)."""

from __future__ import annotations

import importlib.util
import os


def check_crawl(spark, pages, harvest_dirs: list[str], frontier, visited: int) -> list[str]:
    """Extracted text and the final frontier of one crawl.

    - every visited URL was harvested exactly once and its extracted text is
      byte-identical to ``pages.text``;
    - ``url_hash`` is unique in the final frontier;
    - the frontier's done + failed rows equal the URLs the crawl visited.
    """
    from pyspark.sql import functions as F

    from obp_search_engine_spark.schemas import FRONTIER_STATE_DONE, FRONTIER_STATE_FAILED

    problems = []
    docs = spark.read.parquet(*harvest_dirs).select("url", "text")
    d = (
        docs.join(pages.select("url", F.col("text").alias("_gold")), "url", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("url").alias("urls"),
            F.sum((~F.col("text").eqNullSafe(F.col("_gold"))).cast("long")).alias("bad"),
        )
        .first()
    )
    if d["n"] != visited or d["urls"] != visited:
        problems.append(f"harvested {d['n']} rows / {d['urls']} urls for {visited} visited")
    if d["bad"]:
        problems.append(f"{d['bad']} extracted texts differ from pages.text")
    f = frontier.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url_hash").alias("hashes"),
        F.sum(
            F.col("state").isin(FRONTIER_STATE_DONE, FRONTIER_STATE_FAILED).cast("long")
        ).alias("crawled"),
    ).first()
    if f["hashes"] != f["n"]:
        problems.append(f"frontier has {f['n']} rows but {f['hashes']} distinct url_hash")
    if f["crawled"] != visited:
        problems.append(f"frontier marks {f['crawled']} urls crawled, crawl visited {visited}")
    return problems


def check_replay(traced: list[dict], untraced: list[dict]) -> list[str]:
    """The traced replay must reproduce run_crawl round for round, and its
    separately forced seen-set probe must find exactly the URLs the round
    added (the workloads' robots rules disallow nothing)."""
    keys = ("visited", "discovered", "frontier_size")
    a = [tuple(r[k] for k in keys) for r in traced]
    b = [tuple(r[k] for k in keys) for r in untraced]
    problems = [] if a == b else [f"traced rounds {a} != run_crawl rounds {b}"]
    for r in traced:
        if r["fresh"] != r["discovered"]:
            problems.append(f"round {r['round']}: probe {r['fresh']} fresh, merge added {r['discovered']}")
    return problems


class OracleChecker:
    """Registry entries against their ``oracle_sql()`` in DuckDB, with
    tools/check_oracle.py's normalisation (imported, not copied) and its
    exact comparison. Entries without SQL only have to run."""

    def __init__(self, root: str, sf_dir: str):
        import duckdb

        path = os.path.join(root, "tools", "check_oracle.py")
        spec = importlib.util.spec_from_file_location("check_oracle", path)
        self.oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.oracle)
        self.con = duckdb.connect()
        for t in self.oracle.TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def close(self) -> None:
        self.con.close()

    def problem(self, sql: str | None, got) -> str | None:
        """None when the pandas frame ``got`` matches ``sql``'s result."""
        import pandas as pd

        if sql is None:
            return None
        a, b = self.oracle.normalize(got), self.oracle.normalize(self.con.sql(sql).df())
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            return f"shape {list(a.columns)}x{len(a)} vs {list(b.columns)}x{len(b)}"
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except AssertionError as e:
            return f"values differ: {str(e).splitlines()[-1]}"
        return None
