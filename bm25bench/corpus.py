"""Seeded inputs for the benchmark: the transcript corpus and the query
terms drawn from it.

The corpus is the repository's own generator,
``datagen.transcripts.gen_transcripts``, which is deterministic in the
number of conversations and the seed. It is written once to parquet in
the run's work dir, so timed ops read stored turns, not the generator.
Query terms come from fixed df bands, computed by splitting the text
of the written turns in (conv_id, turn_idx) order.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANG_STEMS = os.path.join("tests", "fixtures", "lang_stems.json")


def write_corpus(spark, n_convs: int, seed: int, path: str) -> tuple[int, int]:
    """Write ``gen_transcripts(spark, n_convs, seed)`` to ``path``.
    Returns (turns, UTF-8 bytes of the text)."""
    from lucene_solr_spark.datagen.transcripts import gen_transcripts
    gen_transcripts(spark, n_convs, seed).write.parquet(path)
    text = pq.read_table(path, columns=["text"]).column("text")
    return len(text), pc.sum(pc.binary_length(text)).as_py()


def read_texts(path: str) -> list[str]:
    t = pq.read_table(path, columns=["conv_id", "turn_idx", "text"])
    return t.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")]) \
        .column("text").to_pylist()


@dataclass
class Terms:
    """The corpus as word ids: ``ids[offsets[i]:offsets[i+1]]`` are the
    tokens of turn i, ``df[w]`` the number of turns holding word w."""
    words: np.ndarray
    ids: np.ndarray
    offsets: np.ndarray
    df: np.ndarray
    hot: np.ndarray          # ids of the generator's hot terms

    @classmethod
    def of(cls, texts: list[str]) -> "Terms":
        from lucene_solr_spark.datagen.transcripts import HOT_TERMS
        toks = [t.split() for t in texts]
        ntok = np.array([len(t) for t in toks])
        offsets = np.zeros(len(toks) + 1, dtype=np.int64)
        np.cumsum(ntok, out=offsets[1:])
        words, ids = np.unique(np.array([w for t in toks for w in t]),
                               return_inverse=True)
        turn_of = np.repeat(np.arange(len(toks)), ntok)
        pairs = np.unique(turn_of * len(words) + ids)
        df = np.bincount(pairs % len(words), minlength=len(words))
        hot = np.flatnonzero(np.isin(words, HOT_TERMS))
        return cls(words, ids, offsets, df, hot)

    @property
    def n_turns(self) -> int:
        return len(self.offsets) - 1


def band(c: Terms, lo: float, hi: float) -> np.ndarray:
    """Non-hot word ids whose df share of the turns lies in [lo, hi)."""
    share = c.df / c.n_turns
    ok = (share >= lo) & (share < hi)
    ok[c.hot] = False
    return np.flatnonzero(ok)


def bigrams(c: Terms, rng, lo: float, hi: float, n: int,
            used: set) -> list:
    """n distinct adjacent (a, b) id pairs drawn from the text, both in
    the df band and not in ``used``, so every phrase query matches."""
    ok = np.zeros(len(c.words), dtype=bool)
    ok[band(c, lo, hi)] = True
    first = np.zeros(len(c.ids), dtype=bool)
    first[c.offsets[:-1]] = True
    cand = np.flatnonzero(ok[c.ids[:-1]] & ok[c.ids[1:]] & ~first[1:]
                          & (c.ids[:-1] != c.ids[1:]))
    out = []
    for i in rng.permutation(cand):
        a, b = int(c.ids[i]), int(c.ids[i + 1])
        if a in used or b in used:
            continue
        used.update((a, b))
        out.append((a, b))
        if len(out) == n:
            break
    if len(out) < n:
        raise ValueError("corpus too small for the phrase df band")
    return out


def pick(rng, pool: np.ndarray, k: int, used: set) -> list:
    """k distinct ids from pool, none in ``used`` (then marked used)."""
    free = [int(x) for x in rng.permutation(pool) if int(x) not in used]
    if len(free) < k:
        raise ValueError("df band too narrow for the query plan")
    used.update(free[:k])
    return free[:k]


def germanize(src: str, dst: str) -> None:
    """Copy a corpus with each token replaced by a German word of the
    stemmer fixture, chosen by a fixed hash of the token, so the analyzer
    meets real German inflections (read-only use of the test fixture)."""
    with open(LANG_STEMS, encoding="utf-8") as f:
        de = sorted(json.load(f)["de"])
    t = pq.read_table(src, columns=["conv_id", "turn_idx", "role", "text"])
    texts = [" ".join(de[zlib.crc32(w.encode()) % len(de)]
                      for w in s.split())
             for s in t.column("text").to_pylist()]
    t = t.set_column(t.schema.get_field_index("text"), "text",
                     pa.array(texts))
    pq.write_table(t, dst)
