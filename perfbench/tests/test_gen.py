"""The generators are deterministic per seed and plant exact counts."""

from __future__ import annotations

import json
import os
import sys
import unicodedata
from collections import Counter

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _articles(root: str) -> list[tuple[str, int, dict]]:
    rows = []
    for rel, data in sorted(_tree(root).items()):
        country = rel.split(os.sep)[0]
        for line in data.decode().splitlines():
            rows.append((country, rel, json.loads(line)))
    return rows


def test_articles_same_seed_same_bytes(tmp_path):
    a = gen.land_articles(str(tmp_path / "a"), 3, files_per_country=1, rows_per_file=400)
    b = gen.land_articles(str(tmp_path / "b"), 3, files_per_country=1, rows_per_file=400)
    c = gen.land_articles(str(tmp_path / "c"), 4, files_per_country=1, rows_per_file=400)
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "c"))
    assert a == b.__class__(**{**b.__dict__, "dirs": a.dirs})
    assert a.rows == c.rows


def test_articles_planted_counts_are_exact(tmp_path):
    m = gen.land_articles(
        str(tmp_path), 11, files_per_country=2, rows_per_file=600, n_sources=12, n_authors=40
    )
    rows = _articles(str(tmp_path))
    assert len(rows) == m.rows == len(gen.COUNTRIES) * 2 * 600
    assert sum(r["title"] is None for _, _, r in rows) == m.null_titles
    assert sum(r["author"] is None for _, _, r in rows) == m.null_authors
    assert sum(r["source"]["name"] is None for _, _, r in rows) == m.null_sources
    # duplicates are within one file, later than the first copy
    dups = 0
    for rel in {rel for _, rel, _ in rows}:
        seen: dict[str, str] = {}
        for _, r2, r in rows:
            if r2 != rel:
                continue
            if r["url"] in seen:
                dups += 1
                assert r["publishedAt"] > seen[r["url"]]
                assert r["title"] is not None
            else:
                seen[r["url"]] = r["publishedAt"]
    assert dups == m.dup_urls
    assert len({r["url"] for _, _, r in rows}) == m.rows - m.dup_urls
    assert m.quarantine_rows == m.null_titles + m.dup_urls
    assert m.valid_rows == m.rows - m.quarantine_rows
    # the surviving rows name every member, and the manifest says so
    first = {}
    for country, rel, r in rows:
        first.setdefault(r["url"], (country, r))
    valid = [(c, r) for c, r in first.values() if r["title"] is not None]
    assert len(valid) == m.valid_rows
    sources = {r["source"]["name"] or "UNKNOWN" for _, r in valid}
    authors = {r["author"] or "UNKNOWN" for _, r in valid}
    assert len(sources) == m.dim_source == 13
    assert len(authors) == m.dim_author == 41
    assert len({r["publishedAt"][:10] for _, r in valid}) == m.dim_date
    assert Counter(c for c, _ in valid) == m.valid_by_country
    assert Counter(r["source"]["name"] or "UNKNOWN" for _, r in valid) == m.valid_by_source


def test_corpus_same_seed_same_bytes(tmp_path):
    a = gen.land_corpus(str(tmp_path / "a"), 5, n_docs=1200, n_files=3)
    b = gen.land_corpus(str(tmp_path / "b"), 5, n_docs=1200, n_files=3)
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert (a.twins, a.near_dups, a.spam, a.corrupt) == (b.twins, b.near_dups, b.spam, b.corrupt)


def test_corpus_planted_counts_are_exact(tmp_path):
    n = 2000
    m = gen.land_corpus(str(tmp_path), 9, n_docs=n, n_files=4)
    lines = [
        line
        for _, data in sorted(_tree(str(tmp_path)).items())
        for line in data.decode().splitlines()
    ]
    parsed, corrupt = {}, 0
    for line in lines:
        try:
            doc = json.loads(line)
        except json.JSONDecodeError:
            corrupt += 1
            continue
        parsed[doc["doc_id"]] = doc
    assert corrupt == m.corrupt == n // 50
    assert len(parsed) == n and m.lines == n + m.corrupt
    assert len(m.twins) == len(m.near_dups) == n // 25
    assert len(m.spam) == n // 40
    fps = Counter(
        gen.fingerprint(unicodedata.normalize("NFKC", d["text"])) for d in parsed.values()
    )
    for i in m.twins:
        raw = parsed[i]["text"]
        norm = unicodedata.normalize("NFKC", raw)
        assert raw != norm and norm == m.docs[i][1]
        assert fps[gen.fingerprint(norm)] >= 2  # shares it with an earlier doc
    for i, (_, text) in m.docs.items():
        ratio = gen.compression_ratio(text)
        if i in m.spam:
            assert ratio < gen.REPETITION_GATE / 2
        else:
            assert ratio > gen.REPETITION_GATE


def test_query_fixture_is_deterministic(tmp_path):
    import pyarrow.parquet as pq

    a = gen.write_query_fixture(str(tmp_path / "a"), 2, n_docs=300, n_vecs=100)
    gen.write_query_fixture(str(tmp_path / "b"), 2, n_docs=300, n_vecs=100)
    for t in ("documents", "embeddings"):
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{t}.parquet")
        assert ta.equals(tb)
    docs = pq.read_table(tmp_path / "a" / "documents.parquet")
    assert docs.num_rows == a.documents == 300
    assert docs.schema.names == ["doc_id", "text", "lang", "source", "n_chars"]
