"""Common-Crawl-style pages table (BASELINE.json input_hint) + the pure
text-extraction function with its byte-identical-per-url invariant.

Schema: pages(url:string, warc_ts:timestamp, html:binary, text:string,
lang:string).  Pages are synthesized deterministically from the driver's
``documents`` table (TESTDATA.md) — no external data.  Geotags are a pure
arithmetic function of doc_id (integer modular arithmetic only, so the
same derivation is expressible in both Spark SQL and the DuckDB oracle;
see geowarp_spark.operators.spatial.LON_SQL/LAT_SQL).  ~70% of points
land in a dense cluster box to exercise the hot-cell skew the north
rule requires.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# geotag derivation, shared verbatim by Spark and DuckDB SQL.
# 70% of docs cluster in lon[-10,10) x lat[30,50) (dense web-page cluster),
# the rest spread worldwide.
LON_SQL = (
    "CASE WHEN doc_id % 10 < 7 THEN ((doc_id * 7919) % 20000) / 1000.0 - 10.0 "
    "ELSE ((doc_id * 9301 + 49297) % 360000) / 1000.0 - 180.0 END"
)
LAT_SQL = (
    "CASE WHEN doc_id % 10 < 7 THEN ((doc_id * 104729) % 20000) / 1000.0 + 30.0 "
    "ELSE ((doc_id * 1299709 + 7) % 180000) / 1000.0 - 90.0 END"
)

_PREFIX = "<html><head><title>p</title></head><body><p>"
_SUFFIX = "</p></body></html>"


def make_html(text: pd.Series) -> pd.Series:
    """text -> html bytes (vectorized pandas). Pure, deterministic."""
    return (_PREFIX + text.fillna("") + _SUFFIX).str.encode("utf-8")


def extract_text(html: pd.Series) -> pd.Series:
    """html bytes -> extracted text. PURE function of html: the per-url
    byte-identical invariant (BASELINE.json input_hint) is
    ``extract_text(make_html(t)) == t`` for every url, verified in
    tests/test_pages.py.  Vectorized — no per-row Python."""
    s = html.map(lambda b: b.decode("utf-8", "replace") if b is not None else "")
    s = pd.Series(s, index=html.index)
    start = s.str.find("<p>")
    end = s.str.rfind("</p>")
    out = pd.Series([""] * len(s), index=s.index, dtype=object)
    ok = (start >= 0) & (end > start)
    if ok.any():
        sliced = [
            t[a + 3 : b] if k else ""
            for t, a, b, k in zip(s.tolist(), start.tolist(), end.tolist(), ok.tolist())
        ]
        out[:] = sliced
    return out


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> pages DataFrame with the input_hint schema.

    url/warc_ts/html are pure functions of (doc_id, text); everything is
    built from JVM-side expressions except html assembly (Arrow UDF).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # explicit annotations: `from __future__ import annotations` stringifies
    # hints, which pandas_udf can't infer from
    def _html(text):
        return make_html(text)

    _html.__annotations__ = {"text": pd.Series, "return": pd.Series}
    html_udf = F.pandas_udf(_html, "binary")

    return docs.select(
        F.col("doc_id"),
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_dt_interval(
            days=F.lit(0), hours=F.lit(0), mins=F.lit(0),
            secs=(F.col("doc_id") % 86400).cast("double"))
        ).alias("warc_ts"),
        html_udf(F.col("text")).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
