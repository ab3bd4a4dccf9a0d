"""Seeded input generators for the pipeline benchmark.

One generator per workload. Each takes a seed and a parameter object,
writes its sources as parquet files under an output directory, and
returns a ``Generated`` record: the file paths, the input record count
and the measured properties that drive the pipeline's behaviour (token
skew, duplicate rate, typo rates, cluster sizes and edit rates). The
pipeline only ever reads the files; the truth tables (gold pairs, gold
clusters) are written next to them for the evaluation layer.

Generation is vectorized with NumPy over integer token ids; strings are
assembled once at the end. The same seed always gives the same tables.

The benchmark runs it as a child process, so that NumPy, pyarrow and
the generated arrays never count in the measured process's set-up time
or peak RSS:

    python3 perfbench/generate.py --workload er_two_source --seed 1 --out DIR

writes the tables under DIR and prints the ``Generated`` record as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_CONSONANTS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")
# 90 consonant-vowel syllables; a word is its index written in base 90
_SYLLABLES = np.array([c + v for c in _CONSONANTS for v in _VOWELS])


@dataclass
class Generated:
    """What a generator wrote: table name -> parquet path, plus facts."""

    paths: dict[str, str]
    input_records: int
    properties: dict = field(default_factory=dict)


def vocabulary(rng: np.random.Generator, size: int, min_syllables: int = 2) -> np.ndarray:
    """``size`` distinct pseudo-words; rank order is a seeded shuffle.

    Word ``i`` spells ``i + 90**(min_syllables-1)`` in base 90 over the
    syllable table, so words are distinct by construction.
    """
    syllables = rng.permutation(_SYLLABLES)
    idx = rng.permutation(size) + len(syllables) ** (min_syllables - 1)
    parts = []
    while idx.any():
        parts.append(np.where(idx > 0, syllables[idx % len(syllables)], ""))
        idx = idx // len(syllables)
    words = parts[0]
    for p in parts[1:]:
        words = np.char.add(p, words)
    return words


def zipf_probabilities(size: int, exponent: float) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** exponent
    return p / p.sum()


def hot_token_share(token_ids: np.ndarray, top: int = 10) -> float:
    """Share of token occurrences taken by the ``top`` most frequent ids."""
    counts = np.bincount(token_ids[token_ids >= 0])
    return float(np.sort(counts)[::-1][:top].sum() / max(counts.sum(), 1))


def join_tokens(words: np.ndarray, token_ids: np.ndarray) -> list[str]:
    """Rows of a -1-padded id matrix -> space-joined strings."""
    strings = np.where(token_ids >= 0, words[np.maximum(token_ids, 0)], "")
    return [" ".join(t for t in row if t) for row in strings.tolist()]


def _write(out_dir: str, name: str, columns: dict) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(columns), path)
    return path


# ------------------------------------------------------------ er_two_source


@dataclass
class ERParams:
    records_per_source: int = 20_000
    vocabulary_size: int = 20_000
    zipf_exponent: float = 1.0
    duplicate_rate: float = 0.7  # share of A that reappears in B
    typo_rate: float = 0.3
    drop_token_rate: float = 0.2
    case_noise_rate: float = 0.5
    balance_jitter: float = 5.0
    cities: int = 400


def generate_er_two_source(seed: int, out_dir: str, params: ERParams) -> Generated:
    """Clean-clean ER: source A, source B with renamed columns, gold pairs."""
    rng = np.random.default_rng([seed, 1])
    n = params.records_per_source
    words = vocabulary(rng, params.vocabulary_size)
    city_words = np.char.add(vocabulary(rng, params.cities, min_syllables=3), "ton")
    p_word = zipf_probabilities(params.vocabulary_size, params.zipf_exponent)

    def names(count: int) -> np.ndarray:
        lengths = rng.choice([2, 3, 4], size=count, p=[0.3, 0.45, 0.25])
        ids = rng.choice(params.vocabulary_size, size=(count, 4), p=p_word)
        return np.where(np.arange(4) < lengths[:, None], ids, -1)

    a_tokens = names(n)
    a_city = rng.choice(params.cities, size=n, p=zipf_probabilities(params.cities, 0.8))
    a_balance = np.round(rng.uniform(-999.0, 9999.0, size=n), 2)

    n_dup = int(round(params.duplicate_rate * n))
    dup_of = rng.choice(n, size=n_dup, replace=False)
    b_tokens = np.concatenate([a_tokens[dup_of], names(n - n_dup)])
    b_city = np.concatenate(
        [a_city[dup_of], rng.choice(params.cities, size=n - n_dup)]
    )
    b_balance = np.concatenate(
        [
            np.round(a_balance[dup_of] + rng.normal(0.0, params.balance_jitter, n_dup), 2),
            np.round(rng.uniform(-999.0, 9999.0, size=n - n_dup), 2),
        ]
    )
    # dropped tokens: blank one token of a duplicate that has at least 3
    length = (b_tokens[:n_dup] >= 0).sum(axis=1)
    drop = (rng.random(n_dup) < params.drop_token_rate) & (length >= 3)
    rows = np.flatnonzero(drop)
    b_tokens[rows, rng.integers(0, length[rows])] = -1
    b_names = np.array(join_tokens(words, b_tokens), dtype=object)
    # typos: substitute one character of a duplicate's name
    typo = np.flatnonzero(rng.random(n_dup) < params.typo_rate)
    pos = rng.random(typo.size)
    letters = rng.choice(_CONSONANTS, size=typo.size)
    for r, p, ch in zip(typo, pos, letters):
        s = b_names[r]
        i = int(p * len(s))
        if s[i] != " ":
            b_names[r] = s[:i] + ch + s[i + 1:]
    case = rng.random(n) < params.case_noise_rate
    case[n_dup:] = False
    b_names = np.where(case, np.char.upper(b_names.astype(str)), b_names.astype(str))

    a_ids = np.char.add("a", np.arange(n).astype(str))
    order = rng.permutation(n)  # B is shuffled and numbered independently
    b_ids = np.empty(n, dtype=object)
    b_ids[order] = np.char.add("b", np.arange(n).astype(str))
    paths = {
        "source_a": _write(out_dir, "source_a", {
            "id": a_ids,
            "name": join_tokens(words, a_tokens),
            "city": city_words[a_city],
            "balance": a_balance,
        }),
        "source_b": _write(out_dir, "source_b", {
            "id": b_ids[order].astype(str),
            "full_name": b_names[order],
            "town": city_words[b_city][order],
            "acct_balance": b_balance[order],
        }),
        "gold": _write(out_dir, "gold", {
            "id1": a_ids[dup_of],
            "id2": b_ids[:n_dup].astype(str),
            "label": np.ones(n_dup, dtype=np.int32),
        }),
    }
    return Generated(paths, 2 * n, {
        **asdict(params),
        "gold_pairs": n_dup,
        "hot_token_share": round(hot_token_share(a_tokens.ravel()), 4),
    })


# ---------------------------------------------------------- corpus_near_dup


@dataclass
class CorpusParams:
    documents: int = 20_000
    vocabulary_size: int = 60_000
    zipf_exponent: float = 0.9
    min_length: int = 30
    max_length: int = 80
    clustered_share: float = 0.3  # share of documents in planted clusters
    cluster_size_p: float = 0.45  # geometric: size = 2 + Geom(p) - 1
    max_cluster_size: int = 12
    max_edit_rate: float = 0.08  # token substitutions per near-duplicate
    exact_copy_share: float = 0.2  # share of copies that are verbatim


def generate_corpus_near_dup(seed: int, out_dir: str, params: CorpusParams) -> Generated:
    """Documents with planted near-duplicate clusters and their gold ids."""
    rng = np.random.default_rng([seed, 2])
    n = params.documents
    words = vocabulary(rng, params.vocabulary_size)
    p_word = zipf_probabilities(params.vocabulary_size, params.zipf_exponent)

    # cluster sizes until the clustered share is reached
    target = int(params.clustered_share * n)
    sizes = np.minimum(
        1 + rng.geometric(params.cluster_size_p, size=max(target, 1)),
        params.max_cluster_size,
    )
    sizes = sizes[np.cumsum(sizes) <= target]
    n_origin = n - int(sizes.sum()) + sizes.size  # originals incl. cluster seeds
    lengths = rng.integers(params.min_length, params.max_length + 1, size=n_origin)
    width = params.max_length
    tokens = rng.choice(params.vocabulary_size, size=(n_origin, width), p=p_word)
    tokens = np.where(np.arange(width) < lengths[:, None], tokens, -1)

    seeds = rng.choice(n_origin, size=sizes.size, replace=False)
    copy_of = np.repeat(seeds, sizes - 1)
    copies = tokens[copy_of].copy()
    exact = rng.random(copy_of.size) < params.exact_copy_share
    edit_rate = np.where(exact, 0.0, rng.uniform(0.0, params.max_edit_rate, copy_of.size))
    edits = (rng.random(copies.shape) < edit_rate[:, None]) & (copies >= 0)
    copies[edits] = rng.choice(params.vocabulary_size, size=int(edits.sum()), p=p_word)
    all_tokens = np.concatenate([tokens, copies])

    gold = np.arange(n_origin)
    gold = np.concatenate([gold, copy_of])  # a copy belongs to its seed's cluster
    order = rng.permutation(all_tokens.shape[0])
    doc_ids = np.empty(order.size, dtype=np.int64)
    doc_ids[order] = np.arange(order.size)
    text = np.array(join_tokens(words, all_tokens), dtype=object)
    quality = rng.random(order.size)
    paths = {
        "documents": _write(out_dir, "documents", {
            "doc_id": doc_ids[order],
            "text": text[order],
            "quality": quality,
        }),
        "gold_clusters": _write(out_dir, "gold_clusters", {
            "record_id": doc_ids[order].astype(str),
            "cluster_id": gold[order].astype(str),
        }),
    }
    return Generated(paths, int(order.size), {
        **asdict(params),
        "planted_clusters": int(sizes.size),
        "mean_cluster_size": round(float(sizes.mean()) if sizes.size else 0.0, 3),
        "hot_token_share": round(hot_token_share(tokens.ravel()), 4),
    })


GENERATORS = {
    "er_two_source": (generate_er_two_source, ERParams),
    "corpus_near_dup": (generate_corpus_near_dup, CorpusParams),
}
# the benchmark's input sizes at --scale 1, sized to fit its time budget
DEFAULT_SIZES = {
    "er_two_source": ("records_per_source", 4_000),
    "corpus_near_dup": ("documents", 6_000),
}


def default_params(workload: str, scale: float = 1.0):
    _, cls = GENERATORS[workload]
    size_field, n = DEFAULT_SIZES[workload]
    return cls(**{size_field: max(50, int(n * scale))})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Write one workload's seeded inputs as parquet.")
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory for the parquet files")
    ap.add_argument("--scale", type=float, default=1.0, help="multiply the default input size")
    args = ap.parse_args(argv)
    fn, _ = GENERATORS[args.workload]
    gen = fn(args.seed, args.out, default_params(args.workload, args.scale))
    print(json.dumps(asdict(gen)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
