"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: it
runs in this process alone (no threads, no Spark), writes only under
the root it is given, and returns a manifest with the exact number of
every defect it planted. The correctness checks compare the engine's
outputs against those manifests.

* ``land_articles`` — NewsAPI-shaped articles as JSON-lines files, one
  directory per country, with null titles, within-file duplicate URLs,
  null authors, null source names and HTML markup.
* ``land_corpus`` — a JSONL training corpus with skewed source sizes,
  corrupt lines, Unicode-variant exact twins, one-token near-duplicates
  and repetitive spam.
* ``write_query_fixture`` — ``documents`` and ``embeddings`` parquet
  tables with the schema of the engine's query fixtures.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import unicodedata
import zlib
from dataclasses import dataclass, field

COUNTRIES = ("us", "gb", "de", "in")

# Sentiment lexicon words of functions.text appear in article bodies so
# that all three sentiment labels occur.
_ARTICLE_WORDS = (
    "market report city council election weather storm energy price "
    "school health science team match season budget policy court trade "
    "travel airport bridge river museum concert film festival startup "
    "bank loan housing transport vaccine climate harvest factory port "
    "fast good great win up love small value slow bad fail down error "
    "hate big the a of to in on for with"
).split()
_HTML_WRAPS = ("<b>{}</b>", "<i>{}</i>", '<a href="https://ref.example/x">{}</a>')

# Vocabulary of the engine's query fixtures (their bm25/tfidf/LM queries
# name these terms).
QUERY_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
_QUERY_LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))

_CORPUS_SOURCES = ("web", "news", "books", "code", "wiki", "forum")
_CORPUS_WEIGHTS = (48, 22, 12, 9, 6, 3)  # skewed mixture
_SPAM_PHRASES = (
    "buy cheap pills now",
    "click here to win",
    "free money free money",
    "subscribe like share",
)
REPETITION_GATE = 0.2  # compression-ratio gate used by the corpus flow
CTX_LEN = 2048


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}:{stream}")


# --------------------------------------------------------------------------
# Articles


@dataclass
class ArticleLanding:
    """Landed article files and the exact outcome the medallion flow
    must produce from them."""

    dirs: dict[str, str]  # country -> landing directory
    rows: int
    bytes: int
    null_titles: int
    dup_urls: int
    null_authors: int
    null_sources: int
    html_rows: int
    valid_rows: int
    dim_source: int  # distinct SOURCE in silver, UNKNOWN included
    dim_author: int  # distinct AUTHOR in silver, UNKNOWN included
    dim_date: int  # distinct PUBLISHED_DATE in silver
    valid_by_country: dict[str, int] = field(default_factory=dict)
    valid_by_source: dict[str, int] = field(default_factory=dict)

    @property
    def quarantine_rows(self) -> int:
        return self.null_titles + self.dup_urls


def _words(rng: random.Random, lo: int, hi: int) -> list[str]:
    return rng.choices(_ARTICLE_WORDS, k=rng.randint(lo, hi))


def _html(rng: random.Random, words: list[str]) -> str:
    i = rng.randrange(len(words))
    out = list(words)
    out[i] = rng.choice(_HTML_WRAPS).format(out[i])
    return "<p>" + " ".join(out) + "</p>"


def land_articles(
    root: str,
    seed: int,
    *,
    countries: tuple[str, ...] = COUNTRIES,
    files_per_country: int,
    rows_per_file: int,
    n_sources: int = 40,
    n_authors: int = 600,
    n_days: int = 45,
) -> ArticleLanding:
    """Write ``countries x files_per_country`` JSON-lines files of
    ``rows_per_file`` articles each, under ``root/<country>/``.

    Per file, exactly ``rows_per_file // 100`` null titles,
    ``rows_per_file // 50`` duplicate URLs (a later copy of an earlier
    row of the same file), ``rows_per_file // 20`` null authors,
    ``rows_per_file // 200`` null source names and ``rows_per_file // 10``
    rows with HTML markup. The defect positions are disjoint, so the DQ
    split quarantines exactly the null titles plus the duplicates.
    """
    if rows_per_file < 200:
        raise ValueError("rows_per_file must be at least 200")
    rng = _rng(seed, "articles")
    n_null = rows_per_file // 100
    n_dup = rows_per_file // 50
    n_na = rows_per_file // 20
    n_ns = rows_per_file // 200
    n_html = rows_per_file // 10
    half = rows_per_file // 2
    sources = [f"Source {i:03d}" for i in range(n_sources)]
    authors = [f"author_{i:04d}" for i in range(n_authors)]
    src_cov = auth_cov = 0
    total_bytes = 0
    dirs: dict[str, str] = {}
    valid_dates: set[str] = set()
    by_country: dict[str, int] = {}
    by_source: dict[str, int] = {}
    saw_null_source = False
    for country in countries:
        cdir = os.path.join(root, country)
        os.makedirs(cdir, exist_ok=True)
        dirs[country] = cdir
        for f in range(files_per_country):
            # dups sit in the second half and copy a first-half original
            dup_pos = set(rng.sample(range(half, rows_per_file), n_dup))
            rest = [i for i in range(rows_per_file) if i not in dup_pos]
            picks = rng.sample(rest, n_null + n_na + n_ns)
            null_pos = set(picks[:n_null])
            na_pos = set(picks[n_null : n_null + n_na])
            ns_pos = set(picks[n_null + n_na :])
            html_pos = set(rng.sample(rest, n_html))
            # dups copy rows without other defects, so every count is exact
            originals = [i for i in range(half) if i not in null_pos | na_pos | ns_pos]
            rows: list[dict] = []
            for i in range(rows_per_file):
                if i in dup_pos:
                    src = dict(rows[rng.choice(originals)])
                    day, rest_ts = src["publishedAt"].split("T")
                    hh = int(rest_ts[:2])
                    # originals have minute <= 58, so the copy is strictly
                    # later and keep-first keeps the original
                    src["publishedAt"] = f"{day}T{hh:02d}:59:59"
                    src["title"] = src["title"] + " (updated)"
                    rows.append(src)
                    continue
                survives = i not in null_pos
                # the first surviving rows name every source and author once
                if survives and i not in ns_pos and src_cov < n_sources:
                    source = sources[src_cov]
                    src_cov += 1
                else:
                    source = rng.choice(sources)
                if i in na_pos:
                    author = None
                elif survives and auth_cov < n_authors:
                    author = authors[auth_cov]
                    auth_cov += 1
                else:
                    author = rng.choice(authors)
                day = rng.randrange(n_days)
                ts = (
                    f"2024-{1 + day // 28:02d}-{1 + day % 28:02d}T"
                    f"{rng.randrange(24):02d}:{rng.randrange(59):02d}:"
                    f"{rng.randrange(60):02d}"
                )
                title_words = _words(rng, 4, 10)
                body = _words(rng, 30, 90)
                if i in html_pos:
                    title = _html(rng, title_words)
                    content = _html(rng, body)
                else:
                    title = " ".join(title_words).capitalize()
                    content = " ".join(body)
                sidx = sources.index(source)
                host = f"news{sidx}.com" if sidx % 3 else f"www.news{sidx}.com"
                rec = {
                    "source": {"name": None if i in ns_pos else source},
                    "author": author,
                    "title": None if i in null_pos else title,
                    "description": " ".join(_words(rng, 8, 16)),
                    "url": f"https://{host}/{country}/{f}/{i}/{rng.getrandbits(40):x}",
                    "urlToImage": None,
                    "publishedAt": ts,
                    "content": content,
                }
                rows.append(rec)
                if survives:
                    valid_dates.add(ts[:10])
                    by_country[country] = by_country.get(country, 0) + 1
                    key = "UNKNOWN" if i in ns_pos else source
                    by_source[key] = by_source.get(key, 0) + 1
                    saw_null_source |= i in ns_pos
            path = os.path.join(cdir, f"part-{f:04d}.json")
            with open(path, "w", encoding="utf-8") as fh:
                for rec in rows:
                    fh.write(json.dumps(rec, separators=(",", ":")) + "\n")
            total_bytes += os.path.getsize(path)
    n_files = len(countries) * files_per_country
    rows = n_files * rows_per_file
    if src_cov < n_sources or auth_cov < n_authors:
        raise ValueError("too few rows to cover every source and author")
    return ArticleLanding(
        dirs=dirs,
        rows=rows,
        bytes=total_bytes,
        null_titles=n_files * n_null,
        dup_urls=n_files * n_dup,
        null_authors=n_files * n_na,
        null_sources=n_files * n_ns,
        html_rows=n_files * n_html,
        valid_rows=rows - n_files * (n_null + n_dup),
        dim_source=n_sources + (1 if saw_null_source else 0),
        dim_author=n_authors + 1,
        dim_date=len(valid_dates),
        valid_by_country=by_country,
        valid_by_source=by_source,
    )


# --------------------------------------------------------------------------
# Corpus


def fingerprint(text: str) -> str:
    """Python twin of ``functions.text.fingerprint`` for ASCII text."""
    return hashlib.md5(re.sub(r"[^a-z0-9]", "", text.lower()).encode()).hexdigest()


def compression_ratio(text: str) -> float:
    """Python twin of ``functions.arrow_text.compression_ratio``."""
    raw = text.encode("utf-8")
    return len(zlib.compress(raw, 6)) / len(raw)


def _fullwidth(word: str) -> str:
    # NFKC folds full-width ASCII back to ASCII
    return "".join(chr(ord(c) + 0xFEE0) if "!" <= c <= "~" else c for c in word)


@dataclass
class CorpusLanding:
    path: str
    bytes: int
    lines: int
    corrupt: int
    docs: dict[int, tuple[str, str]]  # doc_id -> (source, NFKC text)
    twins: set[int]  # Unicode-variant copies of an earlier doc
    near_dups: set[int]  # one token changed from an earlier doc
    spam: set[int]

    def gated(self) -> dict[int, tuple[str, str]]:
        return {i: d for i, d in self.docs.items() if i not in self.spam}


def land_corpus(
    root: str, seed: int, *, n_docs: int, n_files: int = 8
) -> CorpusLanding:
    """Write ``n_docs`` documents (plus corrupt lines) as JSONL files.

    Planted exactly: ``n_docs // 50`` corrupt lines, ``n_docs // 25``
    Unicode twins (a full-width spelling of one word of an earlier
    document — identical after NFKC), ``n_docs // 25`` one-token
    near-duplicates and ``n_docs // 40`` spam documents whose
    compression ratio is far below ``REPETITION_GATE``. Every other
    document compresses above the gate.
    """
    rng = _rng(seed, "corpus")
    vocab = sorted({f"{a}{b}" for a in ("sta", "pre", "con", "dis", "tra", "mon", "vel", "qui") for b in ("ble", "rium", "tor", "ment", "ness", "ly", "ing", "ous", "ant", "ize", "ward", "ful")})
    vocab += sorted(set(_ARTICLE_WORDS))
    n_twin = n_docs // 25
    n_near = n_docs // 25
    n_spam = n_docs // 40
    n_corrupt = n_docs // 50
    if n_docs < 1000:
        raise ValueError("n_docs must be at least 1000")
    kinds = ["plain"] * (n_docs - n_twin - n_near - n_spam)
    kinds += ["twin"] * n_twin + ["near"] * n_near + ["spam"] * n_spam
    # the first 200 docs stay plain so every copy has an earlier original
    tail = kinds[200:]
    rng.shuffle(tail)
    kinds = kinds[:200] + tail
    docs: dict[int, tuple[str, str]] = {}
    raw_lines: list[str] = []
    plain_ids: list[int] = []
    twins: set[int] = set()
    near: set[int] = set()
    spam: set[int] = set()
    for doc_id, kind in enumerate(kinds):
        source = rng.choices(_CORPUS_SOURCES, weights=_CORPUS_WEIGHTS)[0]
        if kind == "plain":
            while True:
                words = rng.choices(vocab, k=rng.randint(40, 160))
                text = " ".join(words)
                if compression_ratio(text) > 1.5 * REPETITION_GATE:
                    break
            raw = text
            plain_ids.append(doc_id)
        elif kind == "spam":
            phrase = rng.choice(_SPAM_PHRASES)
            text = " ".join([phrase] * rng.randint(30, 60))
            raw = text
            spam.add(doc_id)
        else:
            orig = rng.choice(plain_ids)
            words = docs[orig][1].split(" ")
            j = rng.randrange(len(words))
            if kind == "twin":
                text = docs[orig][1]
                raw = " ".join(
                    _fullwidth(w) if k == j else w for k, w in enumerate(words)
                )
                twins.add(doc_id)
            else:
                words[j] = rng.choice([w for w in vocab if w != words[j]])
                text = raw = " ".join(words)
                near.add(doc_id)
        if kind == "spam" and compression_ratio(text) > REPETITION_GATE / 2:
            raise AssertionError("spam document compresses too well to gate")
        docs[doc_id] = (source, unicodedata.normalize("NFKC", raw))
        raw_lines.append(
            json.dumps({"doc_id": doc_id, "source": source, "text": raw}, ensure_ascii=False)
        )
    for k in range(n_corrupt):
        pos = rng.randrange(len(raw_lines) + 1)
        raw_lines.insert(pos, f'{{"doc_id": {k}, "source": "web", "text": "truncated')
    os.makedirs(root, exist_ok=True)
    per = -(-len(raw_lines) // n_files)
    total = 0
    for f in range(n_files):
        path = os.path.join(root, f"shard-{f:03d}.jsonl")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("".join(line + "\n" for line in raw_lines[f * per : (f + 1) * per]))
        total += os.path.getsize(path)
    return CorpusLanding(
        path=root,
        bytes=total,
        lines=len(raw_lines),
        corrupt=n_corrupt,
        docs=docs,
        twins=twins,
        near_dups=near,
        spam=spam,
    )


# --------------------------------------------------------------------------
# Query fixture


@dataclass
class QueryFixture:
    root: str
    documents: int
    embeddings: int
    bytes: int


def write_query_fixture(
    root: str, seed: int, *, n_docs: int, n_vecs: int, dim: int = 64
) -> QueryFixture:
    """Write ``documents.parquet`` and ``embeddings.parquet`` under
    ``root`` with the schema of the engine's query fixtures: short docs
    over a 31-word vocabulary across 20 sources and 5 languages (one in
    200 an exact copy of an earlier doc), and unit-norm ``dim``-d
    float32 vectors around 10 labelled centroids."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, "query-fixture")
    langs = [lang for lang, _ in _QUERY_LANGS]
    weights = [w for _, w in _QUERY_LANGS]
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 200 and i % 200 == 0:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choices(QUERY_VOCAB, k=rng.randint(10, 100))))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choices(langs, weights=weights, k=n_docs), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nrng = np.random.default_rng(rng.getrandbits(63))
    centroids = nrng.normal(size=(10, dim))
    labels = nrng.integers(0, 10, size=n_vecs)
    vecs = centroids[labels] + 1.5 * nrng.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    os.makedirs(root, exist_ok=True)
    total = 0
    for name, table in (("documents", docs), ("embeddings", emb)):
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return QueryFixture(root=root, documents=n_docs, embeddings=n_vecs, bytes=total)
