"""Seeded benchmark inputs: page corpora, write batches and the query mix.

Everything here is a pure function of the workload seed.  The seed picks
the doc-index offset handed to the corpus generator
(``sources.corpus.gen_pages_pdf``, the per-batch body of ``pages_df``) and
seeds the RNG of the query mix, so one seed always gives the same pages,
batches and queries.  The engine only ever sees the generated inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from hail_elasticsearch_pipelines_spark.functions.extract import py_extract_text
from hail_elasticsearch_pipelines_spark.functions.tokenize import py_tokenize
from hail_elasticsearch_pipelines_spark.sources import corpus

LANGS = ("en", "de", "fr", "sv")
BOOL_KEYWORDS = {"and", "or", "not"}  # operators of the boolean query syntax

PAGES_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string(), nullable=False),
    ]
)


def doc_offset(seed: int) -> int:
    """First doc index of the seed's corpus; seeds map to disjoint ranges
    (kept below 4e7 so crawl timestamps stay within pandas' datetime range)."""
    return int(np.random.default_rng([seed, 0]).integers(1, 400)) * 100_000


def gen_pages(start: int, n: int):
    """Pages for doc indices [start, start + n) as a pandas frame (the
    corpus generator also emits newer re-crawl rows for ~2% of urls)."""
    return corpus.gen_pages_pdf(np.arange(start, start + n, dtype=np.int64))


def write_parquet(pdf, path: str, n_files: int) -> None:
    """Materialize pages as a parquet directory of ``n_files`` files, so
    the first scan of a build has one input split per core."""
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        tbl = pa.Table.from_pandas(pdf.iloc[part], schema=PAGES_ARROW_SCHEMA, preserve_index=False)
        pq.write_table(tbl, os.path.join(path, f"part-{i:03d}.parquet"))


def live_docs(pdf) -> list[str]:
    """Texts of the docs an index over ``pdf`` holds, in doc-id order:
    latest crawl per url wins, ids are dense in url order, missing text
    is extracted from the html."""
    latest = pdf.sort_values("warc_ts").drop_duplicates("url", keep="last")
    latest = latest.sort_values("url")
    return [
        t if t is not None else py_extract_text(h)
        for t, h in zip(latest["text"], latest["html"])
    ]


@dataclass(frozen=True)
class Query:
    kind: str  # "search" | "bool" | "phrase"
    terms: tuple[str, ...]
    mode: str = "OR"
    k: int = 10
    text: str = ""  # the query string of a "bool" query

    def label(self) -> str:
        if self.kind == "bool":
            return f"bool[{self.text}] k={self.k}"
        return f"{self.kind}[{' '.join(self.terms)}] {self.mode} k={self.k}"


_VOCAB = corpus.vocabulary()
_ZIPF_W = 1.0 / np.arange(1, len(_VOCAB) + 1) ** corpus.ZIPF_S
_ZIPF_CDF = np.cumsum(_ZIPF_W) / _ZIPF_W.sum()


def _stratified(rng, n: int) -> np.ndarray:
    """``n`` uniforms, one per stratum [i/n, (i+1)/n), in random order: the
    mix keeps its seeded randomness, but every seed gets the same shares
    of query shapes, so mixes differ in terms, not in composition."""
    return rng.permutation((np.arange(n) + rng.random(n)) / n)


class _ZipfTerms:
    """Terms drawn from the corpus's Zipf law through a stratified pool of
    uniforms, so each mix holds nearly the same share of every term rank."""

    def __init__(self, rng, size: int):
        self.rng, self.size = rng, size
        self.pool: list[float] = []

    def draw(self, n: int) -> list[str]:
        if len(self.pool) < n:
            self.pool = list(_stratified(self.rng, self.size))
        u, self.pool = self.pool[:n], self.pool[n:]
        ranks = np.searchsorted(_ZIPF_CDF, u, side="left")
        return [_VOCAB[min(int(r), len(_VOCAB) - 1)] for r in ranks]


def query_mix(seed: int, n: int, texts: list[str], stream: int = 1) -> list[Query]:
    """``n`` queries: terms Zipf-distributed like the corpus (s=1.07 over
    5,000 terms), 1-4 terms, OR about 2/3 and AND about 1/3, k in {10, 100};
    10% boolean with a ``lang:`` facet atom, 10% two-term phrases taken
    from corpus text, 5% with a term absent from the index."""
    rng = np.random.default_rng([seed, stream])
    shape, mode_u, k_u, len_u = (_stratified(rng, n) for _ in range(4))
    terms_of = _ZipfTerms(rng, 3 * n)
    out: list[Query] = []
    for i in range(n):
        k = 10 if k_u[i] < 0.5 else 100
        if shape[i] < 0.10:
            a, b = terms_of.draw(2)
            while {a, b} & BOOL_KEYWORDS:
                a, b = terms_of.draw(2)
            lang = LANGS[int(rng.integers(len(LANGS)))]
            expr = f"{a} AND lang:{lang}" if mode_u[i] < 0.5 else f"({a} OR {b}) AND lang:{lang}"
            out.append(Query("bool", (), "BOOL", k, expr))
        elif shape[i] < 0.20:
            toks: list[str] = []
            while len(toks) < 2:
                toks = py_tokenize(texts[int(rng.integers(len(texts)))])
            p = int(rng.integers(len(toks) - 1))
            out.append(Query("phrase", (toks[p], toks[p + 1]), "PHRASE", k))
        else:
            terms = list(dict.fromkeys(terms_of.draw(1 + int(len_u[i] * 4))))
            if shape[i] >= 0.95:
                terms[int(rng.integers(len(terms)))] = f"zzabsent{int(rng.integers(10**6))}"
            mode = "AND" if mode_u[i] < 1 / 3 else "OR"
            out.append(Query("search", tuple(terms), mode, k))
    return out
