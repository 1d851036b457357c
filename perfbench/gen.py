"""Seeded transcripts generator.

Writes a ``(conv_id, turn_idx, role, text, tool, ts)`` parquet table whose
text bodies follow the template mix the parse stage's grok patterns expect:
``level=ERROR sig=...`` error lines, ``level=WARN`` lines, ``<tool:NAME
arg=...>`` markers and ``level=INFO`` bodies carrying ``key: value`` pairs
(src/dest land in ``_dynamic``; bytes/op/duration are claimed fields).
Filler words come from a Zipf-weighted synthetic vocabulary.

The same (spec, seed) always yields byte-identical rows. Output is cached
per (workload, seed) under the benchmark's own work directory.
"""

from __future__ import annotations

import dataclasses
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

KINDS = ("ERROR", "WARN", "TOOL", "INFO")
SIGNATURES = ("OutOfMemoryError", "BlockAllocationFailed", "AuthFailure", "ConnTimeout")
# "grep" has no row in the enrich tool dimension, so its turns keep NULL
# tool attributes through the left join.
TOOLS = ("search", "bash", "browser", "calc", "grep")
OPS = ("HDFS_WRITE", "HDFS_READ", "CREATE")
_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pre", "dan",
    "el", "or", "um", "tri", "qua", "zen", "bex", "fol", "gir", "hup",
)
VOCAB_SIZE = 8000
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


@dataclasses.dataclass(frozen=True)
class Spec:
    """Shape of one generated transcripts table."""

    n_turns: int
    words: tuple[int, int]  # filler words per turn, inclusive range
    hot_share: float  # share of turns in the two hot conversations
    turns_per_conv: int  # mean turns of a cold conversation
    kind_mix: tuple[float, float, float, float] = (0.15, 0.10, 0.10, 0.65)
    n_files: int = 4


def vocabulary() -> list[str]:
    """Fixed synthetic vocabulary: lowercase alphabetic words only, so no
    filler word can ever complete a grok pattern or a ``key: value`` pair."""
    words = []
    n = len(_SYLLABLES)
    for i in range(VOCAB_SIZE):
        a, b, c = i % n, (i // n) % n, (i // (n * n)) % n
        words.append(_SYLLABLES[a] + _SYLLABLES[b] + (_SYLLABLES[c] if i >= n * n else ""))
    return words


def generate(spec: Spec, seed: int) -> pa.Table:
    """Build the table in memory; deterministic in (spec, seed)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = spec.n_turns
    n_cold = max(1, round(n * (1.0 - spec.hot_share) / spec.turns_per_conv))
    hot = rng.random(n) < spec.hot_share
    conv_code = np.where(hot, rng.integers(0, 2, n), 2 + rng.integers(0, n_cold, n))
    # turn_idx: 0-based position of the row within its conversation, in
    # row order (stable sort keeps generation order inside a conversation)
    order = np.argsort(conv_code, kind="stable")
    sorted_codes = conv_code[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_codes)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    turn_idx = np.empty(n, dtype=np.int32)
    turn_idx[order] = np.arange(n) - run_start

    kind = rng.choice(len(KINDS), size=n, p=np.asarray(spec.kind_mix))
    tool_pick = rng.integers(0, len(TOOLS), n)
    sig = rng.integers(0, len(SIGNATURES), n)
    op = rng.integers(0, len(OPS), n)
    nums = rng.integers(0, 100_000, (n, 3))
    lo, hi = spec.words
    n_words = rng.integers(lo, hi + 1, n)
    vocab = vocabulary()
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = ranks**-1.1
    word_ids = rng.choice(VOCAB_SIZE, size=int(n_words.sum()), p=p / p.sum())
    ts_jitter = rng.integers(0, 30_000_000, n)

    conv_ids, roles, texts, tools = [], [], [], []
    pos = 0
    for i in range(n):
        code = int(conv_code[i])
        conv_ids.append(f"conv-hot-{code}" if code < 2 else f"conv-{code - 2}")
        filler = " ".join(vocab[w] for w in word_ids[pos : pos + n_words[i]])
        pos += n_words[i]
        k = KINDS[kind[i]]
        tname = TOOLS[tool_pick[i]]
        if k == "ERROR":
            body = f"level=ERROR sig={SIGNATURES[sig[i]]} {filler}"
        elif k == "WARN":
            body = f"level=WARN slow response detected {filler}"
        elif k == "TOOL":
            body = f"<tool:{tname} arg=q{nums[i, 0] % 100}> {filler}"
        else:
            body = (
                f"level=INFO src: /10.10.{nums[i, 0] % 256}.1:9000, "
                f"dest: /10.10.0.2:9000, bytes: {nums[i, 1]}, "
                f"op: {OPS[op[i]]}, duration: {nums[i, 2] % 97} {filler}"
            )
        texts.append(body)
        t = int(turn_idx[i])
        if t == 0:
            role = "system"
        elif k == "TOOL" or t % 4 == 3:
            role = "tool"
        elif t % 2 == 1:
            role = "user"
        else:
            role = "assistant"
        roles.append(role)
        tools.append(tname if role == "tool" else None)
    ts = BASE_TS_US + conv_code.astype(np.int64) * 3_600_000_000 + turn_idx * 60_000_000 + ts_jitter
    return pa.Table.from_arrays(
        [
            pa.array(conv_ids, pa.string()),
            pa.array(turn_idx, pa.int32()),
            pa.array(roles, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(tools, pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=SCHEMA,
    )


def write(spec: Spec, seed: int, path: str) -> str:
    """Materialize (spec, seed) under ``path`` once; return the directory.

    Rows are split into ``n_files`` contiguous slices of equal size, so
    every scan task gets the same work. The directory is written aside and
    renamed into place, so a crash never leaves a half-written cache that a
    later run would trust.
    """
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    table = generate(spec, seed)
    step = -(-table.num_rows // spec.n_files)
    for f in range(spec.n_files):
        part = table.slice(f * step, step)
        pq.write_table(part, os.path.join(tmp, f"part-{f:05d}.parquet"), compression="zstd")
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path

