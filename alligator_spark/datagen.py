"""Deterministic synthetic interleaved-document corpus (distributed).

Generates the pipeline input table ``(doc_id, spans)`` plus gold cluster
labels, mirroring the noise the reference's feature battery is built to
absorb (``alligator/utils.py:56-75`` clean_str targets: casing,
underscores, bracketed numeric refs; ``alligator/utils.py:135-190``
similarity targets: typos, token noise, literal drift).

Layout (index arithmetic — gold labels derivable without regenerating):
  docs 0 .. B*K-1            : entity j = i // K, duplicate k = i % K
  docs B*K .. B*K+D-1        : distractors (singleton clusters), near-miss
                               names sharing a token with some base entity

Generation is distributed: ``spark.range`` -> ``mapInPandas`` with a
per-index PCG64 stream, so output is byte-stable regardless of
partitioning or cluster size.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPAN_TYPE, False),
    ]
)

_SYLLABLES = [
    "ka", "ro", "mi", "ta", "len", "vor", "sel", "dun", "mar", "tis",
    "bel", "cor", "fin", "gal", "hol", "jor", "kel", "lam", "nor", "pol",
    "qua", "ril", "sun", "tor", "ul", "ven", "wil", "xan", "yor", "zel",
]


from functools import lru_cache


@lru_cache(maxsize=8)
def _vocab(size: int = 2000) -> list[str]:
    """Deterministic vocabulary of `size` DISTINCT syllable words.

    2-4 syllables from a 30-syllable inventory -> ~8.4e5 distinct words of
    capacity; sizes are capped well below that so rejection sampling
    terminates fast.
    """
    cap = 500_000
    if size > cap:
        raise ValueError(f"vocab size {size} exceeds generator capacity {cap}")
    rng = np.random.RandomState(123457)
    words: list[str] = []
    seen = set()
    while len(words) < size:
        k = 2 + int(rng.randint(0, 3))
        w = "".join(_SYLLABLES[rng.randint(0, len(_SYLLABLES))] for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


@dataclass(frozen=True)
class CorpusSpec:
    n_entities: int = 20
    dups_per_entity: int = 3
    n_distractors: int = 20
    seed: int = 42
    name_tokens_min: int = 2
    name_tokens_max: int = 4
    # 0 -> auto: name vocabulary grows with the entity count (real-world
    # name tokens are near-unique at scale), floor 2000
    vocab_size: int = 0

    @property
    def n_docs(self) -> int:
        return self.n_entities * self.dups_per_entity + self.n_distractors

    @property
    def effective_vocab(self) -> int:
        return self.vocab_size or max(2000, 4 * self.n_entities)


_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _entity_profile(spec: CorpusSpec, j: int) -> dict:
    """Deterministic attributes of base entity j (no RNG state shared)."""
    rng = np.random.Generator(np.random.PCG64(spec.seed * 1_000_003 + j))
    vocab = _vocab(spec.effective_vocab)
    ntok = rng.integers(spec.name_tokens_min, spec.name_tokens_max + 1)
    toks = [vocab[rng.integers(0, len(vocab))] for _ in range(ntok)]
    return {
        "name_tokens": toks,
        "year": int(rng.integers(1900, 2020)),
        "value": float(np.round(rng.uniform(10.0, 9000.0), 2)),
        "attr": vocab[rng.integers(0, len(vocab))],
        "media": f"s3://corpus/media/{spec.seed}/{j % 997}.bin",
    }


def _noisy_mention(rng: np.random.Generator, tokens: list[str]) -> str:
    """Apply at most one destructive + some cosmetic noise ops."""
    toks = list(tokens)
    destructive = rng.integers(0, 4)  # 0 none, 1 typo, 2 reorder, 3 drop
    if destructive == 1:
        ti = int(rng.integers(0, len(toks)))
        tk = toks[ti]
        if len(tk) >= 4:
            pos = int(rng.integers(1, len(tk) - 1))
            sub = _ALPHA[int(rng.integers(0, 26))]
            toks[ti] = tk[:pos] + sub + tk[pos + 1 :]
    elif destructive == 2:
        order = rng.permutation(len(toks))
        toks = [toks[i] for i in order]
    elif destructive == 3 and len(toks) >= 3:
        drop = int(rng.integers(0, len(toks)))
        toks = [t for i, t in enumerate(toks) if i != drop]
    s = " ".join(toks)
    # cosmetic noise — exactly what clean_str undoes
    if rng.random() < 0.3:
        s = s.replace(" ", "_", 1)
    if rng.random() < 0.3:
        s = s.title()
    if rng.random() < 0.3:
        s = s + f" [{int(rng.integers(1, 99))}a]"
    if rng.random() < 0.2:
        s = "  " + s + " "
    return s


def _doc_spans(spec: CorpusSpec, i: int) -> list[dict]:
    bk = spec.n_entities * spec.dups_per_entity
    rng = np.random.Generator(np.random.PCG64(spec.seed * 7_000_003 + i))
    if i < bk:
        j = i // spec.dups_per_entity
        prof = _entity_profile(spec, j)
        mention = _noisy_mention(rng, prof["name_tokens"])
        year = prof["year"] + (int(rng.integers(0, 2)) if rng.random() < 0.2 else 0)
        value = prof["value"] * float(1 + rng.normal(0, 0.002))
        attr = prof["attr"]
        media = prof["media"]
    else:
        # distractor: near-miss on a base entity's name, own attributes
        # (entity 0's profile exists even in a distractor-only corpus)
        j = int(rng.integers(0, max(spec.n_entities, 1)))
        prof = _entity_profile(spec, j)
        toks = list(prof["name_tokens"])
        # replace all but one token -> shares a token (may co-block) but
        # is a different entity
        keep = int(rng.integers(0, len(toks)))
        vocab = _vocab(spec.effective_vocab)
        toks = [
            t if k == keep else vocab[int(rng.integers(0, len(vocab)))]
            for k, t in enumerate(toks)
        ]
        mention = " ".join(toks)
        year = int(rng.integers(1900, 2020))
        value = float(np.round(rng.uniform(10.0, 9000.0), 2))
        attr = vocab[int(rng.integers(0, len(vocab)))]
        media = f"s3://corpus/media/{spec.seed}/x{i % 991}.bin"

    spans = [
        {"kind": "mention", "text": mention, "media_ref": None},
        {"kind": "literal_date", "text": str(year), "media_ref": None},
        {"kind": "literal_number", "text": f"{value:.3f}", "media_ref": None},
        {"kind": "literal_string", "text": attr, "media_ref": None},
        {"kind": "media", "text": None, "media_ref": media},
    ]
    # interleave media + shuffle the literal tail (mention stays first so
    # span order is a meaningful, non-trivial invariant)
    tail = spans[1:]
    order = rng.permutation(len(tail))
    spans = [spans[0]] + [tail[k] for k in order]
    off = 0
    out = []
    for s in spans:
        out.append({**s, "offset": off})
        off += len(s["text"] or "") + 1
    return out


def doc_id_of(i: int) -> str:
    return f"d{i:010d}"


def generate_docs(spark: SparkSession, spec: CorpusSpec) -> DataFrame:
    """Distributed deterministic corpus: one row per doc, spans interleaved."""
    n = spec.n_docs
    parallelism = spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                rows.append(
                    {"doc_id": doc_id_of(i), "spans": _doc_spans(spec, int(i))}
                )
            yield pd.DataFrame(rows)

    # 4x-parallelism partitioning: generation is CPU-bound Python, so a
    # partition-per-core leaves the stage tail-bound on the slowest task;
    # fine-grained splits let the scheduler balance (same total work).
    # Bounded by corpus size (~>=1000 docs/partition) so a small corpus
    # on a wide driver does not cascade hundreds of tiny Arrow tasks
    # through every downstream stage.
    n_parts = max(min(parallelism * 4, max(n // 1000, 1)), 8)
    return (
        spark.range(0, n, 1, numPartitions=n_parts)
        .mapInPandas(gen, schema=DOCS_SCHEMA)
    )


def gold_clusters(spark: SparkSession, spec: CorpusSpec) -> DataFrame:
    """(doc_id, cluster_id): entity id for duplicates, singleton for rest."""
    bk = spec.n_entities * spec.dups_per_entity
    return (
        spark.range(0, spec.n_docs)
        .select(
            F.format_string("d%010d", F.col("id")).alias("doc_id"),
            F.when(
                F.col("id") < bk,
                F.format_string("e%08d", (F.col("id") / spec.dups_per_entity).cast("long")),
            )
            .otherwise(F.format_string("x%010d", F.col("id")))
            .alias("cluster_id"),
        )
    )
