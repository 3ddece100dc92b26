"""Golden end-to-end test (SURVEY.md §5.4): the reference's full
domain pipeline on the FIXTURES.md §B entities — scrape-shaped records
through coercion, FK-chain joins, the interval-containment query
surface the GSIs exist for, and the atomic keyed table partitioned by
status."""

from __future__ import annotations

from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.functions.coercion import typify_tag
from stupp_exclusion_etl_spark.operators.joins import range_join_bucketed
from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable
from stupp_exclusion_etl_spark.sources.fixtures import (
    exclusion_requests,
    objection_filings,
    surrebuttals,
)


def test_full_er_of_sur_pipeline(spark, tmp_path):
    er = exclusion_requests(spark, n=400)
    of = objection_filings(spark, n_er=400)
    sur = surrebuttals(spark, of)

    # FK integrity: every OF points at an ER, every SUR at an OF.
    assert of.join(er, of.erid == er.ID, "left_anti").count() == 0
    assert sur.join(of, sur.ofid == of.id, "left_anti").count() == 0

    # The ER→OF→SUR chain (reference config.py:32-56): surrebuttal
    # count per exclusion-request status.
    chain = (
        er.join(of, of.erid == er.ID)
        .join(sur, sur.ofid == of.id)
        .groupBy("PublicStatus")
        .agg(F.count(F.lit(1)).alias("n_sur"))
    )
    counts = dict((r.PublicStatus, r.n_sur) for r in chain.collect())
    assert sum(counts.values()) == sur.count()

    # Interval containment (SURVEY §1.3): requests whose thickness
    # interval covers 0.25 in — via the bucketed range join.
    probes = spark.createDataFrame([(0.25,)], "x double")
    hits = range_join_bucketed(
        probes, "x", er, "Minimum Thickness", "Maximum Thickness", bucket_width=0.1
    )
    brute = er.filter(
        (F.col("`Minimum Thickness`") <= 0.25) & (F.col("`Maximum Thickness`") >= 0.25)
    )
    assert hits.count() == brute.count() > 0

    # Keyed upsert partitioned by the PublicStatus "GSI": re-delivering
    # a granted record must overwrite, not duplicate (A15 semantics).
    t = AtomicParquetTable(
        spark, str(tmp_path / "er_table"), keys=["ID"],
        partition_by=["PublicStatus"],
    )
    order = [F.col("PublishDate").desc()]
    slim = er.select("ID", "HTSUSCode", "PublicStatus", "PublishDate")
    t.upsert(slim, order)
    update = slim.filter(F.col("ID") == 7).withColumn(
        "PublicStatus", F.lit("Granted")
    ).withColumn("PublishDate", F.lit("2021-01-01"))
    t.upsert(update, order)
    final = t.read()
    assert final.count() == er.count()
    assert final.filter(F.col("ID") == 7).collect()[0].PublicStatus == "Granted"

    # Equality query on the partition column prunes (what the GSI was
    # for): only the Granted partition's files are kept.
    where = [("PublicStatus", "=", "Granted")]
    rep = t.skipping_report(where)
    assert 0 < rep["files_kept"] < rep["files_total"], rep
    granted = t.read(where=where)
    assert granted.count() == final.filter(
        F.col("PublicStatus") == "Granted"
    ).count() > 0


def test_coercion_on_scraped_values(spark):
    """The reference's scraped values are all strings; the guarded
    coercion must type HTS codes as longs, thicknesses as doubles, and
    keep '1E1771'-style pathologies as strings (A13)."""
    er = exclusion_requests(spark, n=50)
    raw = er.select(
        F.col("HTSUSCode").cast("string").alias("code"),
        F.col("`Minimum Thickness`").cast("string").alias("thick"),
    ).withColumn("evil", F.lit("1E1771"))
    tags = raw.select(
        typify_tag(F.col("code")).alias("t_code"),
        typify_tag(F.col("thick")).alias("t_thick"),
        typify_tag(F.col("evil")).alias("t_evil"),
    ).distinct().collect()
    assert {(r.t_code, r.t_thick, r.t_evil) for r in tags} == {
        ("long", "double", "string")
    }


def test_nested_source_countries_explode(spark):
    """A11: 'Source Countries' arrays explode to per-country rows."""
    er = exclusion_requests(spark, n=100)
    ex = er.select("ID", F.explode("`Source Countries`").alias("sc")).select(
        "ID", F.col("sc.OriginCountry").alias("country")
    )
    n_rows = ex.count()
    sizes = er.select(F.size("`Source Countries`").alias("s")).agg(F.sum("s")).collect()
    assert n_rows == sizes[0][0] and n_rows >= 100


def test_parse_form_inputs_quirks(spark):
    """parse_form_inputs replicates _read_page_inputs edge semantics
    (reference clients/exclusion_requests.py:39-54,153-165): empty title
    attr falls back to name (falsy, not just missing); whitespace-only
    textarea strips to empty and is dropped; a textarea key collides
    with an input key and wins (textareas appended after inputs); the
    CSRF token never survives; URL is always present."""
    html = (
        '<form>'
        '<input title="" name="FallbackName" value="v1"/>'
        '<input title="BIS232Request.Keep" value="  padded  "/>'
        '<input title="__RequestVerificationToken" value="t"/>'
        '<input title="Collide" value="from-input"/>'
        '<textarea title="Collide">from-textarea</textarea>'
        '<textarea title="Blank">   </textarea>'
        "</form>"
    )
    from stupp_exclusion_etl_spark.sources.ingest import parse_form_inputs

    df = spark.range(1).select(
        parse_form_inputs(F.lit(html), F.lit("u://x")).alias("rec")
    )
    rec = df.collect()[0]["rec"]
    assert rec == {
        "FallbackName": "v1",
        "Keep": "padded",
        "Collide": "from-textarea",
        "URL": "u://x",
    }
