"""Seeded input generators. The engine only ever sees what these build.

Every generator draws from a ``numpy.random.Generator`` made from the
run's ``--seed``; the same seed gives byte-identical inputs. Each also returns
the properties it measured on what it made (rows, bytes, update share,
hot-key share, planted malformed/duplicate rates), so a later claim that
a change helps inputs with property X can cite how much of a workload
has X.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The six keys-only GSIs of the reference's exclusion_requests table
# (SURVEY.md section 1.3), spelled as column names.
GSI_COLUMNS = [
    "HTSUSCode",
    "PublicStatus",
    "MinThickness",
    "MaxThickness",
    "MinInsideDiameter",
    "MaxInsideDiameter",
]
RECORD_SCHEMA = (
    "ID long, Company string, Product string, HTSUSCode long, "
    "PublicStatus string, MinThickness double, MaxThickness double, "
    "MinInsideDiameter double, MaxInsideDiameter double, seq long"
)
RECORD_COLUMNS = [c.split()[0] for c in RECORD_SCHEMA.split(", ")]

HTS_CODES = [7208100000 + 1000 * i for i in range(80)]
STATUSES = [
    "Granted", "Denied", "Pending", "Objection Period", "Rebuttal Period",
    "Surrebuttal Period", "Withdrawn", "Improperly Filed", "Under Review",
    "Posted", "Closed", "Remanded",
]
# zipf-like popularity of statuses in the data (a few dominate)
_STATUS_P = np.array([1.0 / (i + 1) for i in range(len(STATUSES))])
_STATUS_P /= _STATUS_P.sum()
_COMPANIES = [f"Company {i:03d}" for i in range(150)]
_PRODUCT_WORDS = ["steel", "plate", "coil", "hot-rolled", "cold-rolled", "alloy",
                  "strip", "sheet", "galvanized", "carbon", "flat", "tube"]


def zipf_rank(rng: np.random.Generator, n: int, size: int, a: float = 1.1) -> np.ndarray:
    """Ranks in [0, n) with P(r) proportional to 1/(r+1)^a."""
    p = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), a)
    return rng.choice(n, size=size, p=p / p.sum())


def hot_share(keys: np.ndarray) -> float:
    """Share of accesses that hit the hottest 1% of the distinct keys."""
    if len(keys) == 0:
        return 0.0
    _, counts = np.unique(keys, return_counts=True)
    counts = np.sort(counts)[::-1]
    top = max(1, math.ceil(0.01 * len(counts)))
    return float(counts[:top].sum() / len(keys))


def record_rows(rng: np.random.Generator, ids: np.ndarray, seq0: int) -> list[tuple]:
    """Typed exclusion-request records for ``ids`` (values already at the
    precision they will be rendered with, so a parsed page equals them)."""
    n = len(ids)
    min_t = np.round(rng.uniform(0.01, 2.0, n), 3)
    max_t = np.round(min_t + rng.uniform(0.005, 0.06, n), 3)
    min_d = np.round(rng.uniform(1.0, 40.0, n), 2)
    max_d = np.round(min_d + rng.uniform(0.5, 8.0, n), 2)
    hts = rng.choice(len(HTS_CODES), n, p=_zipf_p(len(HTS_CODES), 0.8))
    st = rng.choice(len(STATUSES), n, p=_STATUS_P)
    co = rng.integers(0, len(_COMPANIES), n)
    pw = rng.integers(0, len(_PRODUCT_WORDS), (n, 3))
    return [
        (
            int(ids[i]),
            _COMPANIES[co[i]],
            " ".join(_PRODUCT_WORDS[j] for j in pw[i]),
            HTS_CODES[hts[i]],
            STATUSES[st[i]],
            float(min_t[i]), float(max_t[i]), float(min_d[i]), float(max_d[i]),
            seq0 + i,
        )
        for i in range(n)
    ]


def _zipf_p(n: int, a: float) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), a)
    return p / p.sum()


def _num(x: float) -> str:
    return repr(float(x))


def render_page(rec: tuple, token: str, malformed: str | None) -> str:
    """One scraped detail page as the portal serves it: prefixed keys, a
    CSRF token, an empty field and a textarea (the rules
    sources.ingest.parse_form_inputs inverts). ``malformed`` plants one
    defect the ingest contract must quarantine."""
    (rid, company, product, hts, status, min_t, max_t, min_d, max_d, _seq) = rec
    fields = [
        ("BIS232Request.ID", str(rid)),
        ("BIS232Request.Company", company),
        ("HTSUSCode", str(hts)),
        ("JSONData.PublicStatus", status),
        ("Minimum Thickness", _num(min_t)),
        ("Maximum Thickness", _num(max_t)),
        ("Minimum Inside Diameter", _num(min_d)),
        ("Maximum Inside Diameter", _num(max_d)),
    ]
    if malformed == "no_id":
        fields = fields[1:]
    elif malformed == "sci_number":
        # guarded coercion must refuse scientific notation (1E1771 == inf)
        fields[4] = ("Minimum Thickness", "1E1771")
    elif malformed == "bad_code":
        fields[2] = ("HTSUSCode", "n/a")
    parts = ['<form action="/Request/Detail">',
             f'<input name="__RequestVerificationToken" type="hidden" value="{token}"/>']
    for k, v in fields:
        parts.append(f'<input title="{k}" value="{v}"/>')
    parts.append('<input title="Comment" value=""/>')
    parts.append(f'<textarea title="BIS232Request.Product">  {product} </textarea>')
    parts.append("</form>")
    return "".join(parts)


# Page keys (after prefix stripping) -> record columns.
PAGE_KEYS = {
    "ID": "ID",
    "Company": "Company",
    "Product": "Product",
    "HTSUSCode": "HTSUSCode",
    "PublicStatus": "PublicStatus",
    "Minimum Thickness": "MinThickness",
    "Maximum Thickness": "MaxThickness",
    "Minimum Inside Diameter": "MinInsideDiameter",
    "Maximum Inside Diameter": "MaxInsideDiameter",
}
MALFORMED_KINDS = ("no_id", "sci_number", "bad_code")


@dataclass
class Batch:
    """One write: scraped pages to upsert, or keys to delete."""

    index: int
    pages: pd.DataFrame | None = None  # columns url, html, seq
    good: list[tuple] = field(default_factory=list)  # records of well-formed pages
    n_malformed: int = 0
    delete_ids: list[int] = field(default_factory=list)


class PageStream:
    """Form submissions arriving at a table whose IDs ``1 .. first_id-1``
    already exist: batches of scraped pages mixing new IDs and updates of
    recent ones (zipf over recency), with a planted share of malformed
    pages, and a ``delete_keys`` every ``delete_every`` batches, starting
    with the second (so a two-batch warm-up meets both kinds)."""

    def __init__(self, seed: int, first_id: int, seq0: int, batch_rows: int,
                 update_share: float, malformed_share: float, delete_every: int,
                 delete_rows: int):
        self.rng = np.random.default_rng([seed, 1])
        self.batch_rows = batch_rows
        self.update_share = update_share
        self.malformed_share = malformed_share
        self.delete_every = delete_every
        self.delete_rows = delete_rows
        self.next_id = first_id
        self.seq = seq0
        self.live: set[int] = set(range(1, first_id))
        self.update_keys: list[np.ndarray] = []
        self.page_bytes = 0
        self.pages = 0
        self.updates = 0
        self.malformed = 0

    def batch(self, index: int) -> Batch:
        rng = self.rng
        if index % self.delete_every == 1:
            live = np.array(sorted(self.live))
            doomed = rng.choice(live, size=min(self.delete_rows, len(live)), replace=False)
            self.live.difference_update(int(d) for d in doomed)
            return Batch(index, delete_ids=sorted(int(d) for d in doomed))
        n = self.batch_rows
        n_upd = min(int(round(n * self.update_share)), self.next_id - 1)
        # updates favour recent IDs: rank 0 is the newest ID
        ranks = zipf_rank(rng, self.next_id - 1, n_upd) if n_upd else np.array([], int)
        upd_ids = (self.next_id - 1 - ranks).astype(np.int64)
        new_ids = np.arange(self.next_id, self.next_id + n - n_upd, dtype=np.int64)
        self.next_id += n - n_upd
        ids = np.concatenate([upd_ids, new_ids])
        rng.shuffle(ids)
        recs = record_rows(rng, ids, self.seq)
        self.seq += n
        bad = rng.random(n) < self.malformed_share
        kinds = rng.integers(0, len(MALFORMED_KINDS), n)
        tokens = rng.integers(0, 1 << 62, n)
        html, good = [], []
        for i, rec in enumerate(recs):
            kind = MALFORMED_KINDS[kinds[i]] if bad[i] else None
            html.append(render_page(rec, f"{tokens[i]:x}", kind))
            if kind is None:
                good.append(rec)
        self.live.update(r[0] for r in good)
        pages = pd.DataFrame({
            "url": [f"https://example.test/Request/Detail/{r[0]}" for r in recs],
            "html": html,
            "seq": np.array([r[-1] for r in recs], dtype=np.int64),
        })
        self.update_keys.append(upd_ids)
        self.page_bytes += sum(len(h) for h in html)
        self.pages += n
        self.updates += n_upd
        self.malformed += int(bad.sum())
        return Batch(index, pages=pages, good=good, n_malformed=int(bad.sum()))

    def properties(self) -> dict:
        upd = np.concatenate(self.update_keys) if self.update_keys else np.array([])
        return {
            "pages_per_batch": self.batch_rows,
            "bytes_per_batch": round(self.page_bytes / max(1, len(self.update_keys))),
            "update_share": round(self.updates / max(1, self.pages), 4),
            "malformed_share": round(self.malformed / max(1, self.pages), 4),
            "update_hot1pct_share": round(hot_share(upd), 4),
            "delete_every_batches": self.delete_every,
            "delete_rows": self.delete_rows,
        }


def fold(batches: list[Batch], state: dict[int, tuple]) -> dict[int, tuple]:
    """Last-write-wins fold of a batch sequence onto ``state`` (rows by
    ID): the table the sink must end with."""
    state = dict(state)
    for b in batches:
        for rec in b.good:
            old = state.get(rec[0])
            if old is None or old[-1] < rec[-1]:
                state[rec[0]] = rec
        for k in b.delete_ids:
            state.pop(k, None)
    return state


def embedding_corpus(seed: int, n: int = 4000, dim: int = 32, clusters: int = 16,
                     queries: int = 400):
    """Gaussian-mixture corpus and query vectors (float32)."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(0.0, 3.0, (clusters, dim))
    labels = rng.integers(0, clusters, n)
    x = (centers[labels] + rng.normal(0.0, 1.0, (n, dim))).astype(np.float32)
    q_labels = rng.integers(0, clusters, queries)
    q = (centers[q_labels] + rng.normal(0.0, 1.0, (queries, dim))).astype(np.float32)
    return x, q


def exact_topk(x: np.ndarray, q: np.ndarray, k: int = 10) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force cosine top-k (ids, cosines) for each query row."""
    xd = x.astype(np.float64)
    qd = q.astype(np.float64)
    sims = (qd @ xd.T) / np.outer(np.linalg.norm(qd, axis=1), np.linalg.norm(xd, axis=1))
    order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return order, np.take_along_axis(sims, order, axis=1)


# ---------------------------------------------------------------- batch

_NATIONS = [f"NATION_{i}" for i in range(25)]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
# pseudo-words from syllables: a vocabulary large enough that unrelated
# documents rarely share a 3-token shingle, as in real text
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu"]
_VOCAB = [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES[:5]]
_LANG_WORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "los", "del", "las", "por", "con", "una", "para"],
    "zh": ["de0", "shi", "zai", "you", "he0"],
}


def _write(out_dir: str, name: str, df: pd.DataFrame) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(out_dir, f"{name}.parquet"))


def tpch_tables(seed: int, out_dir: str, orders: int = 15000) -> dict:
    """A TPC-H-shaped star schema with the value domains the registered
    analytics_* plans filter on (dates 1995-2001, NATION_i names,
    Brand#i, PROMO types, 'small'/'gear' part names)."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = orders // 10, max(10, orders // 150), orders // 7
    _write(out_dir, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}))
    _write(out_dir, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32), "n_name": _NATIONS,
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    _write(out_dir, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}))
    _write(out_dir, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out_dir, "part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail}))
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    odate = day0 + rng.integers(0, 2404, orders).astype("timedelta64[D]")
    lines = rng.integers(1, 8, orders)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(orders, dtype=np.int64), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * retail[l_part], 2)
    disc = np.round(rng.integers(0, 11, n_li) * 0.01, 2)
    tax = np.round(rng.integers(0, 9, n_li) * 0.01, 2)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    cutoff = np.datetime64("1998-08-01T00:00:00", "us")
    linestatus = np.where(ship > cutoff, "O", "F")
    returnflag = np.where(ship > cutoff, "N", rng.choice(["A", "R"], n_li))
    total = np.zeros(orders)
    np.add.at(total, l_order, ext * (1 - disc) * (1 + tax))
    _write(out_dir, "orders", pd.DataFrame({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders),
        "o_totalprice": np.round(total, 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(_PRIORITIES, orders)}))
    _write(out_dir, "lineitem", pd.DataFrame({
        "l_orderkey": l_order, "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_num, "l_quantity": qty, "l_extendedprice": ext,
        "l_discount": disc, "l_tax": tax, "l_returnflag": returnflag,
        "l_linestatus": linestatus, "l_shipdate": ship}))
    return {"orders_rows": orders, "lineitem_rows": n_li, "customer_rows": n_cust,
            "part_rows": n_part, "supplier_rows": n_supp}


def documents(seed: int, out_dir: str, base_docs: int = 600, dup_rate: float = 0.1) -> dict:
    """Document corpus with planted near-duplicates: ``dup_rate`` of the
    documents are copies of a base document with a few token edits
    (exact shingle Jaccard stays well above the 0.4 verification bar)."""
    rng = np.random.default_rng([seed, 4])
    langs = rng.choice(list(_LANG_WORDS), base_docs, p=[0.45, 0.15, 0.15, 0.15, 0.10])
    texts = []
    for lang in langs:
        n_tok = int(rng.integers(20, 90))
        words = rng.choice(_VOCAB, n_tok).tolist()
        sw = _LANG_WORDS[lang]
        for pos in rng.choice(n_tok, n_tok // 5, replace=False):
            words[pos] = sw[int(rng.integers(0, len(sw)))]
        texts.append(" ".join(words))
    n_dup = int(round(base_docs * dup_rate / (1 - dup_rate)))
    src = rng.choice(base_docs, n_dup)
    dup_texts, dup_langs = [], []
    for s in src:
        words = texts[s].split()
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        dup_texts.append(" ".join(words))
        dup_langs.append(langs[s])
    all_texts = texts + dup_texts
    all_langs = list(langs) + dup_langs
    order = rng.permutation(len(all_texts))
    df = pd.DataFrame({
        "doc_id": np.arange(len(all_texts), dtype=np.int64),
        "text": [all_texts[i] for i in order],
        "lang": [all_langs[i] for i in order],
        "source": [f"src{i}" for i in rng.integers(0, 20, len(all_texts))],
    })
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    _write(out_dir, "documents", df)
    return {"documents": len(df), "planted_duplicate_rate": round(n_dup / len(df), 4),
            "document_bytes": int(df["n_chars"].sum())}
