"""Each output check passes on a correct output and fails on a
deliberately corrupted one. Run: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import checks
import gen


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """A small generated corpus and the chunk table a correct index
    writes for it, built from the reference semantics."""
    d = tmp_path_factory.mktemp("corpus")
    truth = gen.write_raw_corpus(str(d), seed=7, n_files=12)
    ref = checks.tests_module("reference_semantics")
    rows = []
    for fname in sorted(truth["expected"]):
        for pos, text in enumerate(ref.fixed_windows(ref.clean_text(truth["expected"][fname]), 1200, 200)):
            rows.append({"filename": fname, "chunk_pos": pos, "chunk_text": text})
    table = pd.DataFrame(rows)
    table["id"] = np.arange(1, len(table) + 1)
    table["embedding"] = [np.full(64, 0.5, dtype=np.float32) for _ in range(len(table))]
    return truth, table


def test_chunk_table(corpus):
    truth, table = corpus
    assert checks.check_chunk_table(table, truth["expected"], 64) == []


@pytest.mark.parametrize("corrupt", ["text", "dropped_file", "duplicate_id", "nan", "short_vector"])
def test_chunk_table_corrupted(corpus, corrupt):
    truth, table = corpus
    bad = table.copy()
    if corrupt == "text":
        bad.loc[0, "chunk_text"] = bad.loc[0, "chunk_text"][:-1]
    elif corrupt == "dropped_file":
        bad = bad[bad["filename"] != bad.loc[0, "filename"]]
    elif corrupt == "duplicate_id":
        bad.loc[1, "id"] = bad.loc[0, "id"]
    elif corrupt == "nan":
        bad.at[0, "embedding"] = np.full(64, np.nan, dtype=np.float32)
    else:
        bad.at[0, "embedding"] = np.zeros(63, dtype=np.float32)
    assert checks.check_chunk_table(bad, truth["expected"], 64)


def _warning(names):
    lines = [f"warning: {len(names)} file(s) failed extraction:"]
    return "\n".join(lines + [f"  {n}: extract failed: x" for n in names]) + "\n"


def test_error_rows(corpus):
    truth, _ = corpus
    assert truth["corrupt"]
    assert checks.check_error_rows(_warning(truth["corrupt"]), truth["corrupt"]) == []
    assert checks.check_error_rows("", truth["corrupt"])
    assert checks.check_error_rows(_warning(truth["corrupt"] + ["doc_00001.pdf"]), truth["corrupt"])
    assert checks.check_error_rows(_warning(["doc_00001.pdf"]), truth["corrupt"])


def test_frame():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    assert checks.check_frame(want.iloc[::-1].copy(), want) == []
    off = want.copy()
    off.loc[1, "v"] = np.nextafter(0.2, 1.0)
    assert checks.check_frame(off, want)
    assert checks.check_frame(want.iloc[:2].copy(), want)
    assert checks.check_frame(want.astype({"k": float}), want)
    assert checks.check_frame(want.rename(columns={"v": "w"}), want)


def test_knn():
    rng = np.random.default_rng(0)
    emb = rng.normal(size=(50, 8)).astype(np.float32)
    ids = np.arange(1, 51)
    emb[10] = emb[3]  # an exact tie, broken by the lower id
    q = emb[3] + 0.01
    top = checks.numpy_topk(emb, ids, q, 3)
    assert top[0][0] == 4 and top[1][0] == 11
    want = [(f"doc_{i}", f"text of {i}\nsecond line", s) for i, s in top]
    out = "".join(f"[{r}] sim={s:.4f} {f}: {t[:100]}\n" for r, (f, t, s) in enumerate(want, 1))
    assert checks.check_knn(out, want) == []
    swapped = [want[1], want[0], want[2]]
    assert checks.check_knn(out, swapped)
    assert checks.check_knn(out.replace(f"{top[0][1]:.4f}", "0.0000"), want)
    assert checks.check_knn("\n".join(out.splitlines()[:2]), want)


def test_hybrid():
    out = "".join(f"[{r}] rrf=1234 (lex#1 vec#2) doc_1: text\n" for r in range(1, 6))
    assert checks.check_hybrid(out, 5) == []
    assert checks.check_hybrid("\n".join(out.splitlines()[:4]), 5)


@pytest.fixture(scope="module")
def docs(tmp_path_factory):
    """A generated documents table and the output a correct exact-dedup
    curation writes for it."""
    truth = gen.write_docs_table(str(tmp_path_factory.mktemp("docs") / "docs.parquet"),
                                 seed=7, n_docs=400)
    ids = sorted(truth["keep"])
    table = pd.DataFrame({"doc_id": ids, "text": [truth["text"][i] for i in ids],
                          "split": ["train", "val", "test"] * (len(ids) // 3) + ["train"] * (len(ids) % 3)})
    return truth, table


def test_curated(docs):
    truth, table = docs
    kinds = truth["kinds"]
    assert {"exact", "near", "lowq"} <= set(kinds.values())
    assert not any(kinds[i] in ("exact", "lowq") for i in truth["keep"])
    assert all(kinds[i] in ("orig", "near") for i in truth["keep"])
    assert checks.check_curated(table, truth) == []


@pytest.mark.parametrize("corrupt", ["exact_kept", "lowq_kept", "near_removed", "orig_removed",
                                     "duplicate_row", "text", "split"])
def test_curated_corrupted(docs, corrupt):
    truth, table = docs
    kinds = truth["kinds"]
    bad = table.copy()
    if corrupt in ("exact_kept", "lowq_kept"):
        i = min(j for j, k in kinds.items() if k == corrupt.split("_")[0])
        bad = pd.concat([bad, pd.DataFrame({"doc_id": [i], "text": [truth["text"][i]], "split": ["train"]})])
    elif corrupt in ("near_removed", "orig_removed"):
        i = min(j for j, k in kinds.items() if k == corrupt.split("_")[0])
        bad = bad[bad["doc_id"] != i]
    elif corrupt == "duplicate_row":
        bad = pd.concat([bad, bad.iloc[:1]])
    elif corrupt == "text":
        bad.iloc[0, bad.columns.get_loc("text")] += " x"
    else:
        bad.iloc[0, bad.columns.get_loc("split")] = "holdout"
    assert checks.check_curated(bad, truth)
