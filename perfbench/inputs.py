"""Seeded benchmark inputs, cached per seed under the work directory.

Two kinds of input, both a pure function of the seed:

- ``corpus``: a Zipf-distributed text corpus for the Dampr DSL workload.
  A seeded vocabulary of lowercase words, lines of 4-16 words drawn with
  weight ``1 / rank**1.1``; word lengths depend on rank only, so the corpus
  size is nearly the same for every seed.
- ``catalog``: an N-copy replica of the base tables in ``perfbench/base``
  (a fixed copy of the sf0.001 test tables), built the way
  ``benchmarks/gen_scale_data.py`` builds its 10x fixture. Every copy offsets
  each primary and foreign key, so joins stay inside a copy. Copy ``i``
  rotates the alphabet of the document text by a seed-chosen amount and
  rolls the embedding dimensions by a seed-chosen amount; both are
  bijections, so similarity inside a copy is preserved and copies share no
  near-duplicates. The seed also chooses every table's row order.

Generation time is returned to the caller so it can be reported, and is
never part of a timed region.
"""

from __future__ import annotations

import os
import random
import shutil
import time

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

# The tables of the base copy, as the library's readers name them.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# One key offset per copy, far above any base key.
KOFF = 100_000_000
LOWER = "abcdefghijklmnopqrstuvwxyz"
EMBED_DIM = 64

# Per table: the columns that carry a key (offset per copy) and the key the
# seeded row order hashes.
_KEYED = {
    "customer": (("c_custkey",), "c_custkey"),
    "supplier": (("s_suppkey",), "s_suppkey"),
    "part": (("p_partkey",), "p_partkey"),
    "orders": (("o_orderkey", "o_custkey"), "o_orderkey"),
    "lineitem": (("l_orderkey", "l_partkey", "l_suppkey"), "l_orderkey, l_linenumber"),
    "events": (("event_id", "user_id"), "event_id"),
}
_NAMED = {"customer": "c_name", "supplier": "s_name", "part": "p_name"}


def copy_params(seed: int, n_copies: int) -> tuple[list[int], list[int]]:
    """Seed-chosen, pairwise-distinct alphabet rotations and vector rolls."""
    if not 1 <= n_copies <= len(LOWER):
        raise ValueError(f"n_copies must be in 1..{len(LOWER)}, got {n_copies}")
    rng = random.Random(seed)
    rotations = rng.sample(range(len(LOWER)), n_copies)
    rolls = rng.sample(range(EMBED_DIM), n_copies)
    return rotations, rolls


def _atomic_dir(final: str, build) -> None:
    """Build into a sibling temp dir and rename, so an interrupted run never
    leaves a half-written cache entry behind."""
    if os.path.isdir(final):
        return
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _write_catalog(dst: str, seed: int, n_copies: int, spill_dir: str) -> None:
    import duckdb

    rotations, rolls = copy_params(seed, n_copies)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"SET temp_directory = '{spill_dir}'")
        con.execute(
            "CREATE TABLE copies AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, {r}, {k})" for i, (r, k) in enumerate(zip(rotations, rolls)))
            + ") t(i, rot, roll)"
        )

        def src(t: str) -> str:
            return f"read_parquet('{BASE_DIR}/{t}.parquet')"

        def write(t: str, select: str, order: str) -> None:
            con.execute(
                f"COPY (SELECT * FROM ({select}) ORDER BY hash({order}, {seed})) "
                f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
            )

        write("region", f"SELECT * FROM {src('region')}", "r_regionkey")
        write("nation", f"SELECT * FROM {src('nation')}", "n_nationkey")

        for t, (keys, order) in _KEYED.items():
            cols = [
                c
                for c, in con.execute(f"SELECT column_name FROM (DESCRIBE SELECT * FROM {src(t)})").fetchall()
            ]
            exprs = []
            for c in cols:
                if c in keys:
                    exprs.append(f"{c} + i * {KOFF} AS {c}")
                elif c == _NAMED.get(t):
                    exprs.append(f"{c} || ' #' || i AS {c}")
                else:
                    exprs.append(c)
            write(t, f"SELECT {', '.join(exprs)} FROM {src(t)}, copies", order)

        upper = LOWER.upper()
        rot_case = " ".join(
            f"WHEN {r} THEN translate(text, '{LOWER}{upper}', "
            f"'{LOWER[r:] + LOWER[:r]}{upper[r:] + upper[:r]}')"
            for r in sorted(set(rotations))
        )
        write("documents", f"""
            SELECT doc_id + i * {KOFF} AS doc_id,
                   CASE rot {rot_case} ELSE text END AS text,
                   lang, source, n_chars
            FROM {src('documents')}, copies""", "doc_id")

        # Roll the dimensions (distance-preserving inside a copy), then a
        # deterministic jitter of amplitude 0.01 so copies are distinct.
        write("embeddings", f"""
            WITH rolled AS (
                SELECT vec_id + i * {KOFF} AS vec_id,
                       list_concat(embedding[roll + 1 :], embedding[1 : roll]) AS emb,
                       label
                FROM {src('embeddings')}, copies)
            SELECT vec_id,
                   CAST(list_transform(emb, x -> CAST(x + 0.01 * (
                       (CAST(hash(vec_id, floor(x * 1e6)) % 2001 AS DOUBLE) - 1000.0)
                       / 1000.0) AS FLOAT)) AS FLOAT[]) AS embedding,
                   label
            FROM rolled""", "vec_id")
    finally:
        con.close()


def catalog(work_dir: str, seed: int, n_copies: int) -> tuple[str, float]:
    """Path of the seeded ``n_copies`` replica, and the seconds spent
    generating it (0.0 when it came from the cache)."""
    final = os.path.join(work_dir, "inputs", f"catalog-x{n_copies}-s{seed}")
    t0 = time.perf_counter()
    spill = os.path.join(work_dir, "tmp")
    _atomic_dir(final, lambda tmp: _write_catalog(tmp, seed, n_copies, spill))
    return final, time.perf_counter() - t0


def zipf_lines(seed: int, n_lines: int, vocab_size: int) -> list[str]:
    """The corpus as a list of lines: Zipf(1.1) draws over a vocabulary of
    distinct lowercase words. The seed chooses the letters and every draw;
    a word's length is a fixed function of its frequency rank, so the
    corpus size barely moves between seeds."""
    import numpy as np

    rng = np.random.default_rng(seed)
    letters = np.array(list(LOWER))
    vocab: list[str] = []
    seen: set[str] = set()
    for rank in range(vocab_size):
        # Lengths 3-12, each for a tenth of the ranks: a tenth of 50k words
        # fits in the 26**3 three-letter words with room to spare.
        n = 3 + (rank * 7919) % 10
        w = "".join(letters[rng.integers(0, 26, n)])
        while w in seen:
            w = "".join(letters[rng.integers(0, 26, n)])
        seen.add(w)
        vocab.append(w)
    weights = 1.0 / np.arange(1, vocab_size + 1) ** 1.1
    lengths = rng.integers(4, 17, n_lines)
    ids = rng.choice(vocab_size, size=int(lengths.sum()), p=weights / weights.sum())
    out, pos = [], 0
    for n in lengths:
        out.append(" ".join(vocab[i] for i in ids[pos : pos + n]))
        pos += n
    return out


def corpus(work_dir: str, seed: int, n_lines: int, vocab_size: int) -> tuple[str, float]:
    """Path of the seeded corpus file, and the seconds spent generating it
    (0.0 when it came from the cache)."""
    final = os.path.join(work_dir, "inputs", f"corpus-l{n_lines}-v{vocab_size}-s{seed}")

    def build(tmp: str) -> None:
        with open(os.path.join(tmp, "corpus.txt"), "w") as f:
            f.write("\n".join(zipf_lines(seed, n_lines, vocab_size)) + "\n")

    t0 = time.perf_counter()
    _atomic_dir(final, build)
    return os.path.join(final, "corpus.txt"), time.perf_counter() - t0
