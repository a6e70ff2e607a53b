"""Seeded pages tables for the benchmark workloads.

The program receives only these generated tables. The seed picks the
document ids (the replica ids in the urls), their language and their
text, so one seed always gives the same bytes. The mix (shares of HTML,
PDFs and giant PDFs) and where the PDFs sit in the table are the same
for every seed.

Text follows the synthetic ``documents`` table the repo's tests use (a
31-word vocabulary, 41% English, the rest zh/es/fr/de) at about five
times its length, the length ``bench.py`` uses for Common-Crawl-sized
pages. HTML follows ``bench.py``'s page template; PDFs come from the
repo's own writer (``paper2llm_spark.pdf.writer``).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass(frozen=True)
class CorpusSize:
    """Shape of one generated pages table."""

    docs: int            # ordinary documents (HTML or small PDF)
    pdf_share: float     # share of ordinary documents that are 3-page PDFs
    giant_share: float   # share of ordinary documents that are 120-page PDFs
    megas: int           # extra English PDFs of ``mega_pages`` short pages
    mega_pages: int
    files: int           # parquet files the table is staged as


def _words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(VOCAB, k=n)


def _html(doc_id: int, text: str) -> bytes:
    return (
        "<!DOCTYPE html><html><head><title>Bench Document "
        f"{doc_id}</title></head><body><nav><li>n</li></nav><main>"
        f"<h1>Bench Document {doc_id}</h1><p>{text}</p>"
        "<img src='img-0.jpeg'/><h2>References</h2><p>[1] ref.</p></main>"
        "<footer>f</footer></body></html>"
    ).encode()


def _small_pdf(doc_id: int, words: list[str]) -> bytes:
    from paper2llm_spark.pdf.writer import layout_markdown_page, write_pdf

    half = len(words) // 2
    pages = [
        f"# Bench Document {doc_id}\n\n" + " ".join(words[:half]),
        " ".join(words[half:])
        + "\n\n![img-0.jpeg](img-0.jpeg)\nFigure 1: synthetic.",
        "## References\n\n[1] synthetic reference.",
    ]
    return write_pdf([layout_markdown_page(p) for p in pages])


def _long_pdf(doc_id: int, body: str, n_pages: int) -> bytes:
    from paper2llm_spark.pdf.writer import layout_markdown_page, write_pdf

    pages = [f"# Giant {doc_id}\n\n{body}"] + [
        f"## Section {i}\n\n{body}" for i in range(1, n_pages)
    ]
    return write_pdf([layout_markdown_page(p) for p in pages])


def _spread(i: int, n: int, share: float, kind: str) -> str | None:
    """``kind`` for ``round(n * share)`` of the rows ``0..n-1``, evenly
    spaced (the first at row 0), else None."""
    k = round(n * share)
    return kind if k and (i * k) // n != ((i - 1) * k) // n else None


def generate_pages(size: CorpusSize, seed: int) -> pa.Table:
    """The pages table (url, warc_ts, html, text, lang) for ``seed``."""
    rng = random.Random(seed)
    ids = rng.sample(range(10**9), size.docs + size.megas)
    cols: dict[str, list] = {c: [] for c in PAGES_SCHEMA.names}

    def add(url: str, payload: bytes, text: str, lang: str) -> None:
        cols["url"].append(url)
        cols["warc_ts"].append(None)
        cols["html"].append(payload)
        cols["text"].append(text)
        cols["lang"].append(lang)

    # exact shares: every seed gets the same mix. PDFs sit at evenly
    # spaced rows, so every staged file (and scan task) gets its share of
    # them; the seed picks which documents are English.
    kinds = [_spread(i, size.docs, size.giant_share, "giant")
             or _spread(i, size.docs, size.pdf_share, "pdf") or "html"
             for i in range(size.docs)]
    langs = [lang for lang, w in zip(LANGS, LANG_WEIGHTS) for _ in range(round(size.docs * w / 100))]
    langs = (langs + ["en"] * size.docs)[: size.docs]
    rng.shuffle(langs)
    for doc_id, kind, lang in zip(ids, kinds, langs):
        words = _words(rng, rng.randint(40, 500))
        if kind == "giant":
            body = " ".join(words[:150])
            add(f"https://bench.test/giant/{doc_id}", _long_pdf(doc_id, body, 120), "", lang)
        elif kind == "pdf":
            add(f"https://bench.test/pdf/{doc_id}", _small_pdf(doc_id, words), "", lang)
        else:
            text = " ".join(words)
            add(f"https://bench.test/html/{doc_id}", _html(doc_id, text), text, lang)
    for doc_id in ids[size.docs:]:
        # many short pages: per-page parse cost dwarfs per-byte convert
        # cost, so the unsplit document would be one long task
        body = " ".join(_words(rng, 20))
        add(f"https://bench.test/mega/{doc_id}", _long_pdf(doc_id, body, size.mega_pages), "", "en")
    # mega PDFs go first, so the seed does not decide which scan task
    # plans their chunks alongside which other documents
    order = list(range(size.docs, size.docs + size.megas)) + list(range(size.docs))
    return pa.table(
        {c: [v[i] for i in order] for c, v in cols.items()}, schema=PAGES_SCHEMA
    )


def stage_pages(table: pa.Table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))
