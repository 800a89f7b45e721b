"""Seeded input generators: web pages, JSON payloads and a text corpus.

Every generator draws from ``numpy.random.default_rng`` keyed on the seed
and writes parquet with pyarrow, so the same seed gives the same inputs and
the program under test only ever sees the written files.  Nothing here
imports the package: a change to the program cannot change a workload.

Each generator returns the files it wrote; the payload generator also
returns its ledger (record id -> the one keyword a seeded bad record must
raise), which the output check compares against.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh", "ja", "ru", "pt", "it", "nl"]
LANG_P = [0.40, 0.12, 0.10, 0.09, 0.08, 0.06, 0.05, 0.04, 0.03, 0.03]

# The webpage ruleset, shaped like the package's flagship WEBPAGE_RULES.
WEBPAGE_RULES = {
    "type": "object",
    "required": ["url", "warc_ts", "text", "lang"],
    "properties": {
        "url": {"type": "string", "pattern": "^https?://", "maxLength": 2048},
        "text": {"type": "string", "minLength": 1},
        "lang": {"enum": LANGS},
    },
}

# Nested payload schema.  A string leaf with a pattern keeps it off the
# typed JVM route, so engine='auto' evaluates it in Python.
MIMES = ["text/html", "application/json", "image/png", "text/plain"]
PAYLOAD_SCHEMA = {
    "type": "object",
    "required": ["url", "status", "mime"],
    "properties": {
        "url": {"type": "string", "pattern": "^https?://[a-z0-9.-]+/"},
        "status": {"type": "integer", "minimum": 100, "maximum": 599},
        "mime": {"enum": MIMES},
        "headers": {
            "type": "object",
            "properties": {
                "server": {"type": "string"},
                "len": {"type": "integer", "minimum": 0},
            },
        },
        "links": {"type": "array", "maxItems": 20, "items": {"type": "string"}},
    },
}

# Seeded anomaly shares (also stated in the workloads' `why` lines and NOTES.md).
PAGE_BAD_LANG, PAGE_EMPTY_TEXT, PAGE_BAD_URL = 0.01, 0.005, 0.005
PAYLOAD_SCHEMA_BAD, PAYLOAD_SYNTAX_BAD, PAYLOAD_NULL = 0.03, 0.01, 0.01
DOC_CLONE, DOC_NEAR, DOC_BOILER, DOC_GATE = 0.05, 0.05, 0.10, 0.10


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words))


def _texts(rng: np.random.Generator, vocab: np.ndarray, n: int,
           lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(vocab), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(vocab[idx[at:at + k]]))
        at += k
    return out


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:04d}.parquet")
        pq.write_table(table.slice(bounds[f], bounds[f + 1] - bounds[f]), path)
        paths.append(path)
    return paths


def webpages(seed: int, n_rows: int, out_dir: str, n_files: int) -> dict:
    """(url, warc_ts, html, text, lang) pages over Zipf-skewed hosts, with
    seeded bad langs, empty texts and non-http URLs."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, 1500)
    pool = pa.array(_texts(rng, vocab, 4096, 20, 120))
    ids = np.arange(n_rows)
    host = np.minimum((rng.pareto(1.2, n_rows) * 20).astype(np.int64), 99_999)
    scheme = np.where(rng.random(n_rows) < PAGE_BAD_URL, "ftp://", "https://")
    url = pc.binary_join_element_wise(
        pa.array(scheme), pa.scalar("host"), pa.array(host.astype(str)),
        pa.scalar(".example/p/"), pa.array(ids.astype(str)), "")
    text = pc.binary_join_element_wise(
        pool.take(pa.array(rng.integers(0, len(pool), n_rows))),
        pa.array(np.char.add("p", ids.astype(str))), " ")
    empty = rng.random(n_rows) < PAGE_EMPTY_TEXT
    text = pc.if_else(pa.array(empty), pa.scalar(""), text)
    html = pc.binary_join_element_wise(
        pa.scalar("<html><body><p>"), text, pa.scalar("</p></body></html>"), "")
    lang = np.array(LANGS)[rng.choice(len(LANGS), n_rows, p=LANG_P)]
    lang = np.where(rng.random(n_rows) < PAGE_BAD_LANG, "xx", lang)
    ts = (np.datetime64("2024-01-01T00:00:00") + rng.integers(0, 86_400 * 30, n_rows)
          ).astype("datetime64[us]")
    table = pa.table({"url": url, "warc_ts": pa.array(ts), "html": html,
                      "text": text, "lang": pa.array(lang)})
    files = _write_split(table, out_dir, n_files)
    return {"rows": n_rows, "files": files}


def payloads(seed: int, n_rows: int, out_dir: str, n_files: int) -> dict:
    """(id, payload) rows whose payload is a nested JSON record.  The
    ledger maps each seeded bad record id to the one keyword it must
    raise ('syntax' for truncated JSON); null payloads are valid."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 800)
    kinds = rng.random(n_rows)
    bad_kind = rng.integers(0, 5, n_rows)
    payload: list[str | None] = []
    expect: dict[int, str] = {}
    for i in range(n_rows):
        rec = {
            "url": f"https://h{int(rng.integers(0, 500))}.example/"
                   f"{vocab[int(rng.integers(0, len(vocab)))]}",
            "status": int(rng.choice([200, 200, 200, 301, 404, 500])),
            "mime": MIMES[int(rng.integers(0, len(MIMES)))],
            "headers": {"server": str(vocab[int(rng.integers(0, len(vocab)))]),
                        "len": int(rng.integers(0, 100_000))},
            "links": [f"/{w}" for w in vocab[rng.integers(0, len(vocab),
                                                          int(rng.integers(0, 21)))]],
        }
        k = kinds[i]
        if k < PAYLOAD_NULL:
            payload.append(None)
            continue
        if k < PAYLOAD_NULL + PAYLOAD_SYNTAX_BAD:
            doc = json.dumps(rec)
            payload.append(doc[: int(rng.integers(1, len(doc) - 1))])
            expect[i] = "syntax"
            continue
        if k < PAYLOAD_NULL + PAYLOAD_SYNTAX_BAD + PAYLOAD_SCHEMA_BAD:
            b = int(bad_kind[i])
            if b == 0:
                rec["url"] = rec["url"].replace("https://", "gopher://")
                expect[i] = "pattern"
            elif b == 1:
                rec["status"] = 700 + int(rng.integers(0, 200))
                expect[i] = "maximum"
            elif b == 2:
                rec["mime"] = "text/xml"
                expect[i] = "enum"
            elif b == 3:
                rec["links"] = [f"/l{j}" for j in range(21 + int(rng.integers(0, 10)))]
                expect[i] = "maxItems"
            else:
                rec["status"] = str(rec["status"])
                expect[i] = "type"
        payload.append(json.dumps(rec))
    table = pa.table({"id": pa.array(np.arange(n_rows)),
                      "payload": pa.array(payload, pa.string())})
    files = _write_split(table, out_dir, n_files)
    return {"rows": n_rows, "files": files, "expect": expect,
            "docs_sample": payload[:2000]}


def corpus(seed: int, n_docs: int, out_dir: str, n_files: int) -> dict:
    """(doc_id, text) sentence-structured documents with seeded exact
    clones, near-duplicate edits, a shared 3-sentence boilerplate block,
    and docs that fail the C4/Gopher gates.

    A near-duplicate changes one word in every third sentence of an
    original: every 3-sentence window then differs, so C4 span dedup
    leaves the copy whole for MinHash to find (word-3-shingle Jaccard
    about 0.85).  A single-word edit would lose all its shared spans to
    span dedup first."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 3000)

    def sentence() -> list[str]:
        words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(9, 16)))])
        words[0] = words[0].capitalize()
        words[-1] += "."
        return words

    boiler = " ".join(" ".join(sentence()) for _ in range(3))
    texts: list[str] = []
    originals: list[list[list[str]]] = []  # sentences of plain docs
    kinds = rng.random(n_docs)
    gate_lo = DOC_CLONE + DOC_NEAR + DOC_BOILER
    for i in range(n_docs):
        k = kinds[i]
        if originals and k < DOC_CLONE + DOC_NEAR:
            sents = originals[int(rng.integers(0, len(originals)))]
            if k >= DOC_CLONE:
                sents = [list(s) for s in sents]
                for s in sents[2::3]:
                    at = int(rng.integers(1, len(s) - 1))
                    new = s[at]
                    while new == s[at]:
                        new = str(vocab[int(rng.integers(0, len(vocab)))])
                    s[at] = new
            texts.append(" ".join(" ".join(s) for s in sents))
            continue
        sents = [sentence() for _ in range(int(rng.integers(7, 11)))]
        body = " ".join(" ".join(s) for s in sents)
        if k < gate_lo:
            body = body + " " + boiler
        elif k < gate_lo + DOC_GATE:
            # half fail C4 (curly brace), half fail Gopher (too few words)
            body = (body + " See {ref} for details." if k < gate_lo + DOC_GATE / 2
                    else " ".join(sentence()))
        else:
            originals.append(sents)
        texts.append(body)
    table = pa.table({"doc_id": pa.array(np.arange(n_docs)),
                      "text": pa.array(texts)})
    files = _write_split(table, out_dir, n_files)
    return {"rows": n_docs, "files": files}
