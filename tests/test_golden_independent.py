"""Golden-oracle independence gate (VERDICT r2 "what's wrong" #3).

Three parts:
  1. STATIC: bibexpy_spark/golden.py must not import anything from
     bibexpy_spark.functions — the golden oracle and the engine may share
     no code, only specs (seeds, constants, dictionaries).
  2. BIT-EQUALITY: the independent reimplementations in golden.py must
     agree bit-for-bit with the engine kernels on adversarial deterministic
     corpora.  If an engine kernel regresses, this test pinpoints which
     kernel.
  3. FUSION: the one signing UDF's columns equal the engine kernels' own
     outputs.
"""

from __future__ import annotations

import ast
import random
import string

import numpy as np
import pandas as pd

from bibexpy_spark import golden
from bibexpy_spark.config import CANONICAL
from bibexpy_spark.functions import kernels


def _random_texts(n: int = 80, seed: int = 11) -> pd.Series:
    rng = random.Random(seed)
    alphabet = string.ascii_letters + string.digits + " .,;-_()[]"
    accents = "éüñçàößşığÉÜ漢字日本語"
    out = []
    for i in range(n):
        length = rng.randint(0, 160)
        chars = [rng.choice(alphabet + (accents if i % 3 == 0 else "")) for _ in range(length)]
        out.append("".join(chars))
    out += ["", "   ", "a", "é́ combined", None, "ZZ  zz\t\nZZ"]
    return pd.Series(out, dtype=object)


def test_golden_has_no_functions_imports():
    src = open(golden.__file__).read()
    tree = ast.parse(src)
    offenders = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and "functions" in node.module:
            offenders.append(ast.dump(node))
        if isinstance(node, ast.Import):
            for alias in node.names:
                if "functions" in alias.name:
                    offenders.append(alias.name)
    assert not offenders, f"golden.py imports engine function modules: {offenders}"


def test_normalize_bit_equal():
    texts = _random_texts()
    eng = kernels.normalize_text(texts, CANONICAL).tolist()
    gold = golden._g_norm_series(texts).tolist()
    assert eng == gold


def test_shingle_signature_band_bit_equal():
    texts = _random_texts(seed=23)
    norm_e = kernels.normalize_text(texts, CANONICAL)
    sh_e = kernels.shingle_sets(norm_e, CANONICAL)
    sh_g = golden._g_shingle_sets(golden._g_norm_series(texts), CANONICAL)
    assert len(sh_e) == len(sh_g)
    for a, b in zip(sh_e, sh_g):
        assert np.array_equal(np.sort(a), np.sort(b))
    sig_e = kernels.minhash_signatures(sh_e, CANONICAL)
    sig_g = golden._g_signatures(sh_g, CANONICAL)
    assert np.array_equal(sig_e, sig_g)
    assert np.array_equal(
        kernels.band_hashes(sig_e, CANONICAL), golden._g_band_hashes(sig_g, CANONICAL)
    )


def test_simhash_bit_equal():
    texts = _random_texts(seed=37)
    norm = kernels.normalize_text(texts, CANONICAL)
    eng = kernels.simhash64(norm, CANONICAL)
    gold = np.array(
        [golden._g_simhash(s) for s in golden._g_norm_series(texts)],
        dtype=np.uint64,
    ).view(np.int64)
    assert np.array_equal(eng, gold)


def test_sha256_bit_equal():
    texts = _random_texts(seed=67).fillna("").astype(str)
    assert kernels.content_sha256(texts).tolist() == golden._g_sha256_series(texts).tolist()


def test_signing_udf_matches_kernels(spark):
    """The signing UDF's columns equal the kernel calls on the same
    assembled docs, its SimHash the one of the normalized joined doc +
    roles + tools, on a corpus with an empty doc, an empty and a null tool
    and single-turn conversations."""
    from bibexpy_spark.functions import udfs
    from bibexpy_spark.operators import assembly

    turns = spark.createDataFrame(
        [("c1", 0, "user", "Héllo, world! the quick brown fox", ""),
         ("c1", 1, "assistant", "jumps over the lazy dog", "search"),
         ("c2", 0, "user", "", None),
         ("c3", 0, "user", "one single turn — ÜBER café", "calc"),
         ("c4", 0, "system", "  spaced out\ttext  ", None),
         ("c4", 1, "user", "a b c d e f g", "")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    conv = assembly.assemble_docs(turns, include_roles_tools=True)
    got = (
        udfs.with_signature_columns(conv, CANONICAL, with_simhash=True)
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    assert got["doc"].eq("").any() and got["tools"].eq("").any()
    norm = kernels.normalize_text(got["doc"], CANONICAL)
    sets = kernels.shingle_sets(norm, CANONICAL)
    bands = kernels.band_hashes(kernels.minhash_signatures(sets, CANONICAL), CANONICAL)
    feat = got["doc"] + " " + got["roles"].fillna("") + " " + got["tools"].fillna("")
    assert got["norm_text"].tolist() == norm.tolist()
    assert got["content_sha"].tolist() == kernels.content_sha256(norm).tolist()
    for i in range(len(got)):
        assert np.array_equal(got["shingles"][i], sets[i].view(np.int64))
        assert np.array_equal(got["band_hashes"][i], bands[i])
    assert got["simhash"].tolist() == kernels.simhash64(
        kernels.normalize_text(feat, CANONICAL), CANONICAL
    ).tolist()
