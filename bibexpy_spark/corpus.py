"""Deterministic synthetic transcript corpus generator.

Replaces the reference's bundled sample corpus (savedrecs.txt, auto-imported
at reference apps/api/main.py:149-188) with a seeded generator producing the
``input_hint`` schema:

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Duplicate classes (FIXTURES.md §2), each tagged in ``conv_id`` so tests can
assert per-class behavior:

    base      original conversations
    exact     byte-identical copy under a new conv_id
    near      small word edits (Jaccard stays above threshold)
    border    heavy edits (Jaccard below threshold -> negative control)
    contain   strict prefix of a longer conversation
    fuzzy     same text, perturbed role/tool sequence (SimHash target)
    reorder   same turns, shuffled row order (assembly must re-sort)
    skew      a hot shared phrase in ~5% of conversations (hot LSH band)

Everything derives from one numpy Generator seeded per (seed, conv index),
so any slice of the corpus is reproducible independently of generation order.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd

_WORDS = np.array(
    """the quick brown fox jumps over lazy dog alpha beta gamma delta epsilon
    zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon
    phi chi psi omega data spark cluster shuffle partition join filter select
    aggregate window stream batch table column row schema parquet iceberg
    snapshot lineage metric checkpoint resume hash shingle signature band
    bucket salt skew verify component cafe naive facade resume jalapeno
    model agent tool call response user assistant system plan act observe
    think reflect answer question context token prompt temperature sample
    """.split()
)

_ROLES = np.array(["user", "assistant", "tool", "system"])
_TOOLS = np.array(["", "search", "calculator", "browser", "python", "sql"])
_HOT_PHRASE = "spark shuffle partition join filter aggregate window stream"

_EPOCH = datetime(2026, 1, 1)


def _conv_rng(seed: int, idx: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, idx]))


def _gen_base_conv(rng: np.random.Generator, hot: bool) -> list[dict]:
    n_turns = int(rng.integers(2, 12))
    turns = []
    for t in range(n_turns):
        n_words = int(rng.integers(8, 40))
        words = rng.choice(_WORDS, size=n_words)
        text = " ".join(words)
        if hot and t == 0:
            text = _HOT_PHRASE + " " + text
        role = str(_ROLES[t % 2] if rng.random() < 0.8 else rng.choice(_ROLES))
        tool = str(rng.choice(_TOOLS)) if role == "tool" else ""
        turns.append({"turn_idx": t, "role": role, "text": text, "tool": tool})
    return turns


def _perturb(rng: np.random.Generator, turns: list[dict], edit_rate: float) -> list[dict]:
    """Global word-level edits at a rate of total words.

    A single word substitution breaks ~k shingles, so "near" duplicates use
    ~1 edit per 200 words (keeps exact Jaccard ≥ ~0.9 at k=5) while
    "border" negatives use a high rate that lands well below threshold.
    """
    texts = [turn["text"].split() for turn in turns]
    total = sum(len(w) for w in texts)
    n_edits = max(1, int(total * edit_rate))
    for _ in range(n_edits):
        ti = int(rng.integers(0, len(texts)))
        words = texts[ti]
        if not words:
            continue
        op = rng.integers(0, 3)
        pos = int(rng.integers(0, len(words)))
        if op == 0:
            words[pos] = str(rng.choice(_WORDS))
        elif op == 1 and len(words) > 2:
            del words[pos]
        else:
            words.insert(pos, str(rng.choice(_WORDS)))
    return [{**turn, "text": " ".join(w)} for turn, w in zip(turns, texts)]


def generate_transcripts(
    n_conversations: int = 200,
    seed: int = 42,
    dup_rates: dict[str, float] | None = None,
    conv_range: tuple[int, int] | None = None,
) -> pd.DataFrame:
    """Generate the turn-level transcript table (one row per turn).

    ``conv_range=(lo, hi)`` emits only conversations lo..hi-1 — identical
    rows to a full run's slice (per-conversation seeding), for chunked
    writes of large corpora.
    """
    rates = dup_rates or {
        "exact": 0.08, "near": 0.10, "border": 0.06, "contain": 0.05,
        "fuzzy": 0.05, "reorder": 0.05,
    }
    rows: list[dict] = []

    def emit(conv_id: str, turns: list[dict], ts0: datetime, shuffle: bool = False) -> None:
        order = list(range(len(turns)))
        if shuffle and len(order) > 1:
            srng = _conv_rng(seed, hash_stable(conv_id))
            srng.shuffle(order)
        for pos in order:
            turn = turns[pos]
            rows.append({
                "conv_id": conv_id,
                "turn_idx": np.int32(turn["turn_idx"]),
                "role": turn["role"],
                "text": turn["text"],
                "tool": turn["tool"],
                "ts": ts0 + timedelta(seconds=int(turn["turn_idx"]) * 7),
            })

    lo, hi = conv_range if conv_range is not None else (0, n_conversations)
    for i in range(lo, hi):
        rng = _conv_rng(seed, i)
        hot = rng.random() < 0.05
        turns = _gen_base_conv(rng, hot)
        ts0 = _EPOCH + timedelta(minutes=i)
        base_id = f"c{i:07d}_base"
        emit(base_id, turns, ts0)

        u = rng.random()
        cum = 0.0
        for cls, rate in rates.items():
            cum += rate
            if u < cum:
                dup_id = f"c{i:07d}_{cls}"
                if cls == "exact":
                    emit(dup_id, turns, ts0 + timedelta(hours=1))
                elif cls == "near":
                    emit(dup_id, _perturb(rng, turns, 0.005), ts0 + timedelta(hours=2))
                elif cls == "border":
                    emit(dup_id, _perturb(rng, turns, 0.30), ts0 + timedelta(hours=3))
                elif cls == "contain":
                    extra = _gen_base_conv(rng, False)
                    longer = turns + [
                        {**t, "turn_idx": t["turn_idx"] + len(turns)} for t in extra
                    ]
                    emit(dup_id, longer, ts0 + timedelta(hours=4))
                elif cls == "fuzzy":
                    fz = [
                        {**t, "role": str(rng.choice(_ROLES)), "tool": str(rng.choice(_TOOLS))}
                        for t in turns
                    ]
                    emit(dup_id, fz, ts0 + timedelta(hours=5))
                elif cls == "reorder":
                    emit(dup_id, turns, ts0 + timedelta(hours=6), shuffle=True)
                break

    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def generate_skewed_transcripts(
    n_conversations: int, hot_fraction: float = 0.10, seed: int = 77
) -> pd.DataFrame:
    """Boilerplate-heavy corpus for the skew stress harness (VERDICT r3
    next-round #4): ~``hot_fraction`` of conversations share ONE long
    boilerplate opener (the reference's empty-key pile-up analogue,
    smart_merger.py:189-197) plus a tiny distinct tail, so their MinHash
    bands collide into a handful of buckets each holding ~hot_fraction*n
    rows — the hot-band star-fallback regime.  Remaining conversations are
    ordinary distinct base conversations.  Ground truth: every hot pair's
    exact shingle Jaccard is far above the 0.8 threshold (the shared opener
    dominates), so all hot conversations belong to one cluster.
    """
    rows: list[dict] = []
    trng = _conv_rng(seed, 2**31 - 1)
    template = [
        {
            "turn_idx": t,
            "role": str(_ROLES[t % 2]),
            "text": " ".join(trng.choice(_WORDS, size=24)),
            "tool": "",
        }
        for t in range(8)
    ]
    for i in range(n_conversations):
        rng = _conv_rng(seed, i)
        hot = rng.random() < hot_fraction
        ts0 = _EPOCH + timedelta(minutes=i)
        if hot:
            tail = " ".join(rng.choice(_WORDS, size=4))
            turns = template + [
                {"turn_idx": 8, "role": "user", "text": tail, "tool": ""}
            ]
            conv_id = f"s{i:07d}_hot"
        else:
            turns = _gen_base_conv(rng, False)
            conv_id = f"s{i:07d}_base"
        for turn in turns:
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": np.int32(turn["turn_idx"]),
                    "role": turn["role"],
                    "text": turn["text"],
                    "tool": turn["tool"],
                    "ts": ts0 + timedelta(seconds=int(turn["turn_idx"]) * 7),
                }
            )
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def write_skewed_parquet(
    path: str, n_conversations: int, hot_fraction: float = 0.10, seed: int = 77
) -> str:
    """Idempotently materialize a skew-stress corpus parquet at ``path``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    df = generate_skewed_transcripts(n_conversations, hot_fraction, seed)
    schema = pa.schema([
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ])
    tmp = path + ".tmp"
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        tmp,
        row_group_size=50_000,
    )
    os.replace(tmp, path)
    return path


def hash_stable(s: str) -> int:
    """Deterministic small int from a string (no PYTHONHASHSEED dependence)."""
    import hashlib

    return int.from_bytes(hashlib.blake2b(s.encode(), digest_size=4).digest(), "big")


def write_parquet(
    path: str, n_conversations: int, seed: int = 42, chunk_convs: int = 60_000
) -> str:
    """Idempotently materialize a corpus parquet at ``path``.

    Large corpora are generated and written in chunks of ``chunk_convs``
    conversations (the per-conversation RNG is seeded by (seed, index), so
    any chunking produces bit-identical rows) — the 4x bench corpus would
    otherwise hold ~5M python dicts at once.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(path):
        return path
    schema = pa.schema([
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ])
    tmp = path + ".tmp"
    # small row groups so Spark can split the scan across tasks (a single
    # row group pins the read + first shuffle-write to one core)
    writer = pq.ParquetWriter(tmp, schema)
    try:
        for lo in range(0, n_conversations, chunk_convs):
            hi = min(lo + chunk_convs, n_conversations)
            df = generate_transcripts(
                n_conversations=hi, seed=seed, conv_range=(lo, hi)
            )
            tbl = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
            for rg_lo in range(0, tbl.num_rows, 50_000):
                writer.write_table(tbl.slice(rg_lo, 50_000))
    finally:
        writer.close()
    os.replace(tmp, path)
    return path


#: scale-factor dir -> conversation count for the fixture corpus
SF_CONVERSATIONS = {"sf0.001": 200, "sf0.01": 2000, "sf0.1": 20000}


def corpus_path_for_sf(sf_dir: str, data_dir: str | None = None) -> str:
    """Map a testdata sf dir to a deterministic fixture corpus, creating it
    on first use.  (The driver's tables don't include transcripts; the north
    rule says to synthesize them deterministically — BASELINE.json.)
    ``data_dir`` defaults to ``data/`` of the checkout this module lives in,
    so two checkouts never share fixtures."""
    import os

    if data_dir is None:
        data_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data"
        )
    sf = os.path.basename(sf_dir.rstrip("/"))
    n = SF_CONVERSATIONS.get(sf, 2000)
    os.makedirs(data_dir, exist_ok=True)
    return write_parquet(os.path.join(data_dir, f"transcripts_{sf}.parquet"), n)
