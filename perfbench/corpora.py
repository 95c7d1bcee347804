"""Seeded, vectorized corpus generators for the benchmark.

Both shapes produce the program's input schema ``(repo, path, commit,
lang, content)`` plus a dense ``doc_id`` key (the build API takes a
doc-id column; appended batches leave it out and let the program
assign ids). The same seed gives byte-identical tables. Generation is
NumPy-vectorized and Spark-free, so it costs a fraction of set-up and
never depends on the program under test.

- ``zipf``: a 50k-term vocabulary drawn Zipf(s=1.15), 40-120 tokens per
  doc. A handful of stop-word heads plus a long rare tail: the
  document-frequency shape on which block-max WAND bounds skip ranges.
- ``code``: dense, keyword-skewed source-code text. Per-language
  keywords (Zipf 1.6 over ~10 words) fill 45% of tokens, so a few terms
  occur in most documents and dominate the posting build.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["py", "jl", "c", "go", "md"], dtype=object)

KEYWORDS = [
    ["def", "return", "import", "class", "if", "else", "for", "in", "None", "self"],
    ["function", "end", "return", "using", "struct", "for", "if", "else", "begin"],
    ["int", "return", "void", "static", "struct", "for", "if", "else", "char"],
    ["func", "return", "package", "import", "type", "for", "if", "else", "var"],
    ["the", "a", "of", "to", "and", "in", "is", "for", "with", "this"],
]

IDENT_PARTS = [
    "get", "set", "run", "read", "write", "parse", "merge", "split", "index",
    "token", "block", "query", "score", "count", "batch", "shard", "hash",
    "node", "list", "tree", "map", "util", "core", "data", "file", "path",
]

_DIGIT2ALPHA = str.maketrans("0123456789", "abcdefghij")
ZIPF_VOCAB = 50_000
ZIPF_S = 1.15
ZIPF_TOKENS = (40, 120)  # tokens per doc, inclusive


def _join_runs(words: np.ndarray, bounds: np.ndarray, sep: str) -> np.ndarray:
    """Join ``words[bounds[i]:bounds[i+1]]`` with ``sep`` for every i."""
    w = words.tolist()
    return np.array([sep.join(w[a:b]) for a, b in zip(bounds[:-1], bounds[1:])],
                    dtype=object)


def _metadata(rng: np.random.Generator, doc_ids: np.ndarray, lang_idx: np.ndarray):
    n = len(doc_ids)
    org = (rng.zipf(1.3, n) % 50).astype(np.int64)
    proj = rng.integers(0, 8, n)
    repo = np.array([f"org{o}/proj{p}" for o, p in zip(org, proj)], dtype=object)
    lang = LANGS[lang_idx]
    path = np.array([f"src/module_{d % 997}.{lg}" for d, lg in zip(doc_ids, lang)],
                    dtype=object)
    commit = np.array([hashlib.sha1(f"{r}/{p}#{d}".encode()).hexdigest()
                       for r, p, d in zip(repo, path, doc_ids)], dtype=object)
    return repo, path, commit, lang


def zipf_docs(seed: int, n_docs: int, first_id: int = 1) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 0x5A1F, first_id])
    # letters only: the default TextConfig groups numbers into one token
    vocab = np.array([f"w{str(r).translate(_DIGIT2ALPHA)}"
                      for r in range(ZIPF_VOCAB + 1)], dtype=object)
    n_tok = rng.integers(ZIPF_TOKENS[0], ZIPF_TOKENS[1] + 1, n_docs)
    ranks = np.minimum(rng.zipf(ZIPF_S, int(n_tok.sum())), ZIPF_VOCAB)
    words = vocab[ranks]
    # 8 tokens a line, lines joined by newlines
    doc_bounds = np.concatenate([[0], np.cumsum(n_tok)])
    line_bounds = np.unique(np.concatenate([
        doc_bounds, *(np.arange(a, b, 8) for a, b in zip(doc_bounds[:-1], doc_bounds[1:]))]))
    lines = _join_runs(words, line_bounds, " ")
    n_lines = np.searchsorted(line_bounds, doc_bounds)
    content = _join_runs(lines, n_lines, "\n")
    doc_ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    lang_idx = rng.integers(0, len(LANGS), n_docs)
    repo, path, commit, lang = _metadata(rng, doc_ids, lang_idx)
    return pd.DataFrame({"doc_id": doc_ids, "repo": repo, "path": path,
                         "commit": commit, "lang": lang, "content": content})


def code_docs(seed: int, n_docs: int, first_id: int = 1) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 0xC0DE, first_id])
    lang_idx = rng.integers(0, len(LANGS), n_docs)
    lines_per_doc = rng.integers(5, 40, n_docs)
    n_lines = int(lines_per_doc.sum())
    toks_per_line = rng.integers(3, 10, n_lines)
    n = int(toks_per_line.sum())
    line_doc = np.repeat(np.arange(n_docs), lines_per_doc)
    tok_lang = np.repeat(lang_idx[line_doc], toks_per_line)

    # one string table; each token class indexes its own slice
    kw_width = max(len(k) for k in KEYWORDS)
    kw_len = np.array([len(k) for k in KEYWORDS])
    kw_table = [w for k in KEYWORDS for w in k + [k[-1]] * (kw_width - len(k))]
    idents = [f"{a}_{b}" for a in IDENT_PARTS for b in IDENT_PARTS]
    numbers = [str(i) for i in range(10_000)]
    versions = [f"v{a}.{b}" for a in range(9) for b in range(99)]
    urls = [f"https://example.org/{p}" for p in IDENT_PARTS]
    table = np.array(kw_table + idents + numbers + versions + urls, dtype=object)
    off_ident = len(kw_table)
    off_num = off_ident + len(idents)
    off_ver = off_num + len(numbers)
    off_url = off_ver + len(versions)

    r = rng.random(n)
    kw = tok_lang * kw_width + np.minimum(rng.zipf(1.6, n) - 1, kw_len[tok_lang] - 1)
    ident = off_ident + rng.integers(0, len(idents), n)
    num = off_num + rng.integers(0, len(numbers), n)
    ver = off_ver + rng.integers(0, len(versions), n)
    url = off_url + rng.integers(0, len(urls), n)
    idx = np.select([r < 0.45, r < 0.80, r < 0.90, r < 0.95], [kw, ident, num, ver], url)
    words = table[idx]

    line_bounds = np.concatenate([[0], np.cumsum(toks_per_line)])
    lines = _join_runs(words, line_bounds, " ")
    doc_bounds = np.concatenate([[0], np.cumsum(lines_per_doc)])
    content = _join_runs(lines, doc_bounds, "\n")
    doc_ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    repo, path, commit, lang = _metadata(rng, doc_ids, lang_idx)
    return pd.DataFrame({"doc_id": doc_ids, "repo": repo, "path": path,
                         "commit": commit, "lang": lang, "content": content})


def write_parquet(df: pd.DataFrame, path: str, n_files: int,
                  with_doc_id: bool = True) -> int:
    """Write ``df`` as ``n_files`` parquet files (so a plain read splits
    into that many tasks). Returns the content bytes (UTF-8)."""
    os.makedirs(path, exist_ok=True)
    if not with_doc_id:
        df = df.drop(columns=["doc_id"])
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return int(df["content"].str.len().sum())  # ASCII text: chars == bytes
