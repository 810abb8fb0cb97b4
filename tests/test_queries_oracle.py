"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet (sf0.001 here for speed; the driver uses sf0.01), compare
row count, column names, and order-insensitive values."""

import math
import os
import tempfile

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF)
    scols = sorted(sdf.columns)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(entrymod.oracle_sql()[name])
    dcols = sorted(d[0] for d in res.description)
    drows = res.fetchall()
    assert scols == dcols, f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    got = _normalize(srows, sdf.columns)
    want = _normalize(drows, [d[0] for d in res.description])
    assert got == want, f"{name}: value mismatch (first deltas: " \
        f"{[p for p in zip(got[:3], want[:3])]}"


def test_rows_only_queries_run(spark):
    qs = entrymod.queries()
    for name in sorted(set(qs) - set(entrymod.oracle_sql())):
        df = qs[name](spark, SF)
        assert df.count() >= 0, name


@pytest.mark.parametrize(
    "name,flag",
    [
        ("multimodal_decode", "decode_ok"),
        ("multimodal_thumbs", "thumb_ok"),
        ("video_frames", "frame_ok"),
        ("crawl_e2e", "matches_oracle"),
        ("audio_features", "audio_ok"),
    ],
)
def test_self_validating_media_queries_pass(spark, name, flag):
    """The media queries and the crawl query have no DuckDB oracle; each
    row carries its own check against an independent re-derivation
    (the crawl's against the sequential simulator), which must hold on
    every row. The crawl query also deletes the store a previous
    ``STATE_VERSION`` left behind."""
    stale = None
    if name == "crawl_e2e":
        base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
        stale = os.path.join(base, "ncs_drv_drv_v1")
        os.makedirs(stale, exist_ok=True)
    flags = [r[flag] for r in entrymod.queries()[name](spark, SF).select(flag).collect()]
    assert flags, name
    assert all(f is True for f in flags), (name, flags.count(False), len(flags))
    if stale is not None:
        assert not os.path.exists(stale)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"word", "cnt", "first_doc"}


def test_round6_is_the_only_rounding_in_oracles(spark):
    """Cross-engine rounding contract: no oracle SQL may use the
    divergent round(x, 6) pair (Spark decimal HALF_UP vs DuckDB IEEE
    round — they disagree on half boundaries), and every floor-form
    occurrence must be the exact sql_round6 template so a precision
    edit can't silently desynchronize one copy. Also checks the two
    helpers agree numerically on boundary values across engines."""
    import re

    from nightcrawlercmd_spark.functions.numeric import round6, sql_round6
    from nightcrawlercmd_spark.plans.queries import ORACLES

    template = sql_round6("X")
    prefix, suffix = template.split("X")  # '(floor((' , ') * 1000000 + 0.5) / 1000000)'
    for name, sql in ORACLES.items():
        assert not re.search(r"(?<![\w.])round\s*\(", sql), (
            f"{name}: raw round() in oracle SQL — use sql_round6"
        )
        # every millionths-scaling occurrence must be the exact
        # template (floor(epoch(..)) etc. are unrelated floor uses and
        # exempt; `* 1e6` spellings count as drift and match nothing)
        assert "1e6" not in sql, f"{name}: 1e6 spelling drifts from sql_round6"
        # (a bare `* 1000000` is also legitimate integer millionths
        # arithmetic — pmi lift, domain-mix rates — so key on the
        # scale-plus-half signature unique to the rounding form)
        n_scale = len(re.findall(r"\* 1000000\s*\+\s*0\.5", sql))
        n_templ = len(
            re.findall(r"\)\s*\* 1000000 \+ 0\.5\) / 1000000", sql)
        )
        assert n_scale == n_templ, (
            f"{name}: {n_scale - n_templ} floor-form(s) drift from the "
            "sql_round6 template"
        )
    assert suffix.endswith("/ 1000000)")
    # numeric agreement on half-boundary and negative values
    vals = [0.0000005, 0.1234565, -0.0000005, -0.1234565, 1.9999995]
    import pandas as pd
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(pd.DataFrame({"x": vals}))
    got = [r["r"] for r in sdf.select(round6(F.col("x")).alias("r")).collect()]
    want = [
        duckdb.connect().execute(f"SELECT {sql_round6(repr(v))}").fetchone()[0]
        for v in vals
    ]
    assert got == want
