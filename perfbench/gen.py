"""Seeded input generators.

Every input the benchmark feeds the lake comes from here and depends
only on the seed, so one seed regenerates identical inputs on any
machine. Row keys are assigned here (pyarrow), never by Spark: a
``monotonically_increasing_id`` key depends on how Spark splits the
input files, and ``(l_orderkey, l_linenumber)`` is not unique in TPC-H
lineitem, which ``merge_into`` rejects as a merge key.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

FLAGS = np.array(["A", "N", "R"])
STATUS = np.array(["F", "O"])
SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
COMMENT_WORDS = np.array(
    "carefully final deposits furiously regular ideas quickly express "
    "packages blithely ironic requests slyly even accounts pending "
    "theodolites bold foxes unusual pinto beans special asymptotes".split()
)
EPOCH_1992 = np.datetime64("1992-01-02", "D")

LINEITEM_SCHEMA = pa.schema(
    [
        ("row_key", pa.int64()),
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.date32()),
        ("l_shipmode", pa.string()),
        ("l_comment", pa.string()),
    ]
)


def lineitem(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """TPC-H-shaped lineitem rows (sf-independent value ranges) for the
    given unique ``row_key`` values."""
    n = len(keys)
    words = COMMENT_WORDS[rng.integers(0, len(COMMENT_WORDS), (n, 4))]
    n_words = rng.integers(2, 5, n)
    comments = [" ".join(w[:k]) for w, k in zip(words, n_words)]
    shipdate = EPOCH_1992 + rng.integers(0, 2526, n).astype("timedelta64[D]")
    return pa.table(
        [
            pa.array(np.asarray(keys, dtype=np.int64)),
            pa.array(rng.integers(1, 600_001, n)),
            pa.array(rng.integers(1, 20_001, n)),
            pa.array(rng.integers(1, 1_001, n)),
            pa.array(rng.integers(1, 8, n).astype(np.int32)),
            pa.array(rng.integers(1, 51, n).astype(np.float64)),
            pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
            pa.array(rng.integers(0, 11, n) / 100.0),
            pa.array(rng.integers(0, 9, n) / 100.0),
            pa.array(FLAGS[rng.integers(0, len(FLAGS), n)]),
            pa.array(STATUS[rng.integers(0, len(STATUS), n)]),
            pa.array(shipdate, pa.date32()),
            pa.array(SHIPMODES[rng.integers(0, len(SHIPMODES), n)]),
            pa.array(comments),
        ],
        schema=LINEITEM_SCHEMA,
    )


def key_range(first: int, n: int) -> np.ndarray:
    return np.arange(first, first + n, dtype=np.int64)


DOC_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("score", pa.float64())]
)


def shingle_set(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / max(1, len(a | b))


def documents(
    rng: np.random.Generator,
    n_base: int,
    exact_share: float,
    near_share: float,
    min_near_jaccard: float,
) -> tuple[pa.Table, list[tuple[int, int, str]]]:
    """A docs corpus plus planted duplicates.

    Base docs draw 40-90 tokens from a Zipf-like 5000-word vocabulary,
    so two base docs share almost no 3-token shingle. Each planted
    copy duplicates a distinct base doc: ``exact`` copies verbatim,
    ``near`` copies with one or two tokens replaced, kept only when the
    copy's exact 3-shingle Jaccard to its original is at least
    ``min_near_jaccard``. Returns the table and ``(original_id,
    copy_id, kind)`` for every planted copy.
    """
    vocab = np.array([f"w{i}" for i in range(5000)])
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    texts = [
        " ".join(rng.choice(vocab, int(rng.integers(40, 91)), p=weights))
        for _ in range(n_base)
    ]
    n_exact = int(n_base * exact_share)
    n_near = int(n_base * near_share)
    originals = rng.choice(n_base, n_exact + n_near, replace=False)
    planted = []
    for i, orig in enumerate(originals):
        copy_id = len(texts)
        src = texts[orig]
        if i < n_exact:
            texts.append(src)
            planted.append((int(orig), copy_id, "exact"))
            continue
        toks = src.split()
        for n_edits in (2, 1):
            edited = list(toks)
            for j in rng.choice(len(toks), n_edits, replace=False):
                edited[j] = f"z{int(rng.integers(0, 10**9))}"
            text = " ".join(edited)
            if jaccard(shingle_set(src), shingle_set(text)) >= min_near_jaccard:
                break
        texts.append(text)
        planted.append((int(orig), copy_id, "near"))
    n = len(texts)
    table = pa.table(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.array(texts),
            pa.array(np.round(rng.uniform(0.0, 1.0, n), 4)),
        ],
        schema=DOC_SCHEMA,
    )
    return table, planted


def self_check(seed: int) -> None:
    """Raise unless one seed regenerates identical inputs and another
    seed gives different ones."""
    def sample(s: int) -> tuple[pa.Table, pa.Table]:
        rows = lineitem(np.random.default_rng(s), key_range(0, 500))
        docs, _ = documents(np.random.default_rng(s), 50, 0.1, 0.1, 0.7)
        return rows, docs

    a, b, c = sample(seed), sample(seed), sample(seed + 1)
    if not (a[0].equals(b[0]) and a[1].equals(b[1])):
        raise RuntimeError(f"seed {seed} did not regenerate identical inputs")
    if a[0].equals(c[0]) or a[1].equals(c[1]):
        raise RuntimeError(f"seeds {seed} and {seed + 1} gave identical inputs")
