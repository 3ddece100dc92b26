"""Ingest normalization (SURVEY.md §2 A6-A11, A19).

The reference scrapes HTML forms into dicts, strips key prefixes, drops
the CSRF token, filters empty values, and adds a URL column
(reference clients/exclusion_requests.py:39-54, 153-165). Here the same
normalization runs over a DataFrame whose raw record is a
map<string,string> column — the dynamic-schema ingest shape — plus
helpers to promote map entries to typed columns.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Prefixes the reference strips from scraped keys
# (reference clients/exclusion_requests.py:45-48).
KEY_PREFIXES = (
    "BIS232Request.",
    "JSONData.",
    "BIS232Objection.",
    "BIS232ObjectionRebuttal",
)
TOKEN_KEY = "__RequestVerificationToken"


def strip_key_prefixes(m: Column) -> Column:
    """A7: remove known key prefixes via transform_keys."""
    k2 = lambda k: F.reduce(  # noqa: E731
        F.array(*[F.lit(p) for p in KEY_PREFIXES]),
        k,
        lambda acc, p: F.replace(acc, p, F.lit("")),
    )
    return F.transform_keys(m, lambda k, v: k2(k))


def normalize_attrs(df: DataFrame, attrs_col: str = "attrs", url_col: str | None = "URL") -> DataFrame:
    """Full A6-A10 normalization of a map<string,string> record column:
    strip prefixes (A7), drop the verification token (A9), drop
    empty-string values (A8). `url_col` names an existing column to
    keep as record provenance (A10)."""
    m = strip_key_prefixes(F.col(attrs_col))
    m = F.map_filter(m, lambda k, v: (k != TOKEN_KEY) & (F.length(v) > 0))
    out = df.withColumn(attrs_col, m)
    return out


def promote(df: DataFrame, attrs_col: str, fields: dict[str, T.DataType]) -> DataFrame:
    """Promote map entries to typed top-level columns (the canonical
    per-entity StructType resolution of the reference's dynamic schema,
    SURVEY.md §1.1). Numeric promotion uses try_cast — the guarded
    coercion in functions.coercion handles the full A13 semantics."""
    for name, dtype in fields.items():
        df = df.withColumn(
            name, F.element_at(F.col(attrs_col), name).try_cast(dtype.simpleString())
        )
    return df


def _pystrip(c: Column) -> Column:
    """str.strip() equivalent: trim ALL leading/trailing whitespace
    (Spark's trim() only strips spaces)."""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def _strip_prefixes_scalar(k: Column) -> Column:
    """A7 prefix strip for a single string key (scalar form of
    strip_key_prefixes)."""
    for p in KEY_PREFIXES:
        k = F.replace(k, F.lit(p), F.lit(""))
    return k


def _form_tag_key(tag: Column, idx: Column) -> Column:
    """Key resolution for one form tag: title attr, else name attr,
    else 'Untitled'+idx (reference clients/exclusion_requests.py:40-44;
    empty attributes are falsy in Python, hence nullif)."""
    title = F.nullif(F.regexp_extract(tag, r'title="([^"]*)"', 1), F.lit(""))
    name = F.nullif(F.regexp_extract(tag, r'name="([^"]*)"', 1), F.lit(""))
    return _strip_prefixes_scalar(
        F.coalesce(title, name, F.concat(F.lit("Untitled"), idx.cast("string")))
    )


def parse_form_inputs(html: Column, url: Column) -> Column:
    """A6: parse an HTML form into a map<string,string> record — the
    reference's `_read_page_inputs` (clients/exclusion_requests.py:153-165)
    as a pure-Catalyst expression (regexp + higher-order functions; no
    UDF, whole-stage-codegen'd, so it runs JVM-side at 100 TB scan speed).

    Faithful semantics, in the reference's order:
      - every <input>: key = title attr else name attr else 'Untitled'+idx
        (idx over the inputs list); value = the value attribute, or the
        literal string 'None' when the attribute is absent
        (BeautifulSoup returns None, and the reference does
        ``str(value).strip()`` — :52-53);
      - every <textarea>: same key rule (idx restarts at 0, the reference
        enumerates the two lists separately, :156-157); value = inner
        text, or 'None' when empty (``.string`` is None for an empty tag);
      - key prefixes stripped (A7, :45-48), values str.strip()'d;
      - pairs with empty stringified values dropped (A8, :158);
      - duplicate keys: LAST wins (dict comprehension, :159);
      - URL provenance column added (A10, :160);
      - __RequestVerificationToken dropped (A9, :161-164).
    """
    inputs = F.regexp_extract_all(html, F.lit(r"<input[^>]*>"), 0)
    tareas = F.regexp_extract_all(
        html, F.lit(r"<textarea[^>]*>[^<]*</textarea>"), 0
    )
    in_entries = F.transform(
        inputs,
        lambda t, i: F.struct(
            _form_tag_key(t, i).alias("k"),
            _pystrip(
                F.when(
                    t.rlike("value="),
                    F.regexp_extract(t, r'value="([^"]*)"', 1),
                ).otherwise(F.lit("None"))
            ).alias("v"),
        ),
    )
    ta_entries = F.transform(
        tareas,
        lambda t, i: F.struct(
            _form_tag_key(t, i).alias("k"),
            F.when(
                F.regexp_extract(t, r"<textarea[^>]*>([^<]*)</textarea>", 1) == "",
                F.lit("None"),
            )
            .otherwise(
                _pystrip(F.regexp_extract(t, r"<textarea[^>]*>([^<]*)</textarea>", 1))
            )
            .alias("v"),
        ),
    )
    kept = F.filter(
        F.concat(in_entries, ta_entries), lambda e: F.length(e["v"]) > 0
    )
    # Last-wins fold: later pairs overwrite earlier ones, exactly the
    # reference's dict comprehension. The per-row entry list is tiny
    # (#form fields), so the quadratic fold is constant-bounded.
    m = F.aggregate(
        kept,
        F.expr("cast(map() as map<string,string>)"),
        lambda acc, e: F.map_concat(
            F.map_filter(acc, lambda k, v: k != e["k"]),
            F.create_map(e["k"], e["v"]),
        ),
    )
    m = F.map_filter(m, lambda k, v: (k != TOKEN_KEY) & (k != F.lit("URL")))
    return F.map_concat(m, F.create_map(F.lit("URL"), url))


@contextmanager
def quarantine_split(df, reason):
    """Dead-letter split for dirty ingest: `reason` is an expression
    evaluating to 'ok' for contract-passing rows and a reject-reason
    string otherwise. Context manager yielding (clean, rejects) off ONE
    tagged, cached pass — the classic quarantine-table pattern (the
    reference's analog is silently swallowing bad keys, reference
    clients/exclusion_requests.py:161-164; an engine must keep the
    evidence instead). The cache is owned HERE and unpersisted on exit:
    unpersist() on a derived DataFrame would not release the parent, so
    handing callers only (clean, rejects) leaked the cached data for
    the session lifetime (ADVICE r2).

    At 100 TB: reasons are computed map-side; the rejects side is
    typically tiny and lands in its own audit table, the clean side
    proceeds down the pipeline — no second scan of the source."""
    from pyspark.sql import functions as F

    tagged = df.withColumn("__reason", reason).persist()
    try:
        clean = tagged.filter(F.col("__reason") == "ok").drop("__reason")
        rejects = tagged.filter(F.col("__reason") != "ok")
        yield clean, rejects
    finally:
        tagged.unpersist()
