"""Seeded inputs for the benchmark: a code corpus and a query pool.

The corpus follows the shape of ``data_prepper_spark.corpus`` (Zipf
identifiers over the same 50k stems, camelCase and snake_case
compounds, language keywords every 8th token, 5 hot terms in 60% of
files) but every random choice comes from ``--seed``: chunk ``c`` draws
from ``PCG64([seed, c])``, so the same seed gives byte-identical files.
A fixed share of rows carries a wrong ``content_sha256``; the engine
must quarantine exactly those.

The query pool has two shapes:

* ``mixed`` - the six kinds of FIXTURES.md section 2 in turn: a rare
  stem, a hot term, a camelCase compound, a language keyword, and bags
  of 2-4 Zipf terms;
* ``hot`` - bags of 3-4 terms drawn from the 5 hot terms and the 20
  most frequent stems, each in most files: every posting list is long,
  so a batch decodes, scores and ranks about three times the postings
  of a ``mixed`` batch.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from data_prepper_spark import corpus as C

CHUNK_DOCS = 128
DOCS_PER_FILE = 100
BAD_SHA_SHARE = 0.01
BAD_SHA = "deadbeef" * 8
TOP_STEMS = 20

_LANG_NAMES = list(C.LANGS)
_LANG_BUCKETS = np.array([n for n in _LANG_NAMES for _ in range(C.LANGS[n][0])], object)
QUERY_CLASSES = 12  # a multiple of every kind cycle: qid % 6 (mixed), qid % 2 (hot)
_SEPS = np.array([" ", "(); ", " = ", ". ", ", ", " { ", " } ", "; "], object)


def _zipf_cdf() -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, C.VOCAB_SIZE + 1, dtype=np.float64), C.ZIPF_S)
    return np.cumsum(p / p.sum())


class CorpusGen:
    """Holds the vocabulary tables one generation run shares."""

    def __init__(self, seed: int):
        self.seed = seed
        self.stems = C.stems()
        self.caps = np.array([s.capitalize() for s in self.stems], dtype=object)
        self.cdf = _zipf_cdf()
        self.keywords = {n: np.array(C.LANGS[n][1], object) for n in _LANG_NAMES}

    def zipf(self, rng: np.random.Generator, size: int) -> np.ndarray:
        return np.searchsorted(self.cdf, rng.random(size)).astype(np.int64)

    def chunk(self, c: int, n_total: int) -> pd.DataFrame:
        idx = np.arange(c * CHUNK_DOCS, min((c + 1) * CHUNK_DOCS, n_total))
        nd = len(idx)
        rng = np.random.default_rng([self.seed, c])
        # lengths, languages and hot files are shuffled fixed shares, so
        # every seed yields the same amount of source per chunk
        n_toks = (20 + rng.permutation(nd) * 381 // nd) * 12
        langs = _LANG_BUCKETS[rng.permutation(nd) * len(_LANG_BUCKETS) // nd]
        hot_doc = rng.permutation(nd) < round(0.6 * nd)
        total = int(n_toks.sum())
        doc_of = np.repeat(np.arange(nd), n_toks)
        starts = np.concatenate([[0], np.cumsum(n_toks)[:-1]])
        pos = np.arange(total) - starts[doc_of]

        a, b = self.zipf(rng, total), self.zipf(rng, total)
        form = rng.random(total)
        tok = self.stems[a].copy()
        camel = (form >= 0.5) & (form < 0.75)
        snake = form >= 0.75
        tok[camel] = self.stems[a[camel]] + self.caps[b[camel]]
        tok[snake] = self.stems[a[snake]] + "_" + self.stems[b[snake]]
        kw = pos % 8 == 7
        for lang, words in self.keywords.items():
            m = kw & (langs[doc_of] == lang)
            tok[m] = words[pos[m] // 8 % len(words)]
        hot = hot_doc[doc_of] & (pos % 20 == 5)
        tok[hot] = np.array(C.HOT_TERMS, object)[pos[hot] // 20 % len(C.HOT_TERMS)]

        seps = _SEPS[np.arange(total) % len(_SEPS)].copy()
        seps[pos % 12 == 11] = "\n"
        pieces = np.char.add(tok.astype(str), seps.astype(str))
        contents = [
            "".join(pieces[s : s + n]) for s, n in zip(starts, n_toks)
        ]
        words = self.stems[rng.integers(0, C.VOCAB_SIZE, (nd, 2))]
        exts = [C.LANGS[lang][2] for lang in langs]
        return pd.DataFrame(
            {
                "repo": [f"org{i % 97}/repo{i % 389}" for i in idx],
                "path": [
                    f"src/{d}/{w}.{e}" for (d, w), e in zip(words, exts)
                ],
                "commit": [
                    hashlib.sha1(f"{self.seed}-{i}".encode()).hexdigest()
                    for i in idx
                ],
                "lang": langs,
                "content": contents,
                "content_sha256": [
                    hashlib.sha256(t.encode()).hexdigest() for t in contents
                ],
            }
        )

    def corpus(self, n_files: int) -> tuple[pd.DataFrame, np.ndarray]:
        """All rows, and the boolean mask of rows given a wrong sha256."""
        n_chunks = -(-n_files // CHUNK_DOCS)
        df = pd.concat(
            [self.chunk(c, n_files) for c in range(n_chunks)], ignore_index=True
        )
        rng = np.random.default_rng([self.seed, 1 << 20])
        bad = np.zeros(n_files, bool)
        bad[rng.choice(n_files, max(1, round(n_files * BAD_SHA_SHARE)), replace=False)] = True
        df.loc[bad, "content_sha256"] = BAD_SHA
        return df, bad

    def queries(self, shape: str, n: int) -> pd.DataFrame:
        """(query_id, query) pool of n distinct-by-id queries."""
        rng = np.random.default_rng([self.seed, 1 << 21])
        st = self.stems
        kws = [w for n_ in _LANG_NAMES for w in C.LANGS[n_][1]]
        hot = C.HOT_TERMS
        frequent = np.array(list(hot) + list(st[:TOP_STEMS]), object)
        rows = []
        for qid in range(n):
            kind = qid % 6
            if shape == "hot":
                q = " ".join(rng.choice(frequent, 3 + qid % 2, replace=False))
            elif kind == 0:
                q = st[int(rng.integers(10_000, C.VOCAB_SIZE))]
            elif kind == 1:
                q = hot[int(rng.integers(len(hot)))]
            elif kind == 2:
                x, y = self.zipf(rng, 2)
                q = st[x] + self.caps[y]
            elif kind == 3:
                q = kws[int(rng.integers(len(kws)))]
            else:
                q = " ".join(st[self.zipf(rng, 2 + qid % 3)])
            rows.append((qid, str(q)))
        return pd.DataFrame(rows, columns=["query_id", "query"])


def draw(seed: int, stream: int, n_pool: int, n: int) -> np.ndarray:
    """n pool ids whose kinds are balanced: shuffle the queries of each
    kind, interleave the kinds, repeat."""
    rng = np.random.default_rng([seed, 1 << 22, stream])
    ids = np.arange(n_pool)
    by_kind = [rng.permutation(ids[ids % QUERY_CLASSES == k])
               for k in range(QUERY_CLASSES)]
    width = max(len(b) for b in by_kind)
    order = [b[i] for i in range(width) for b in by_kind if i < len(b)]
    return np.resize(np.asarray(order, np.int64), n)


def write_corpus(df: pd.DataFrame, out_dir: str) -> None:
    """One parquet file per DOCS_PER_FILE rows: each file is one work
    unit of the resumable build."""
    os.makedirs(out_dir)
    for i, lo in enumerate(range(0, len(df), DOCS_PER_FILE)):
        tbl = pa.Table.from_pandas(
            df.iloc[lo : lo + DOCS_PER_FILE], schema=C.CORPUS_SCHEMA,
            preserve_index=False,
        )
        pq.write_table(tbl, os.path.join(out_dir, f"part-{i:05d}.parquet"))
