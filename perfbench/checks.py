"""Output checks. Each returns a list of problems (empty = correct) and
runs on outputs already produced, outside the timed window. They take
plain Python/pandas/NumPy values so the tests can corrupt them.
"""

from __future__ import annotations

import importlib.util
import math
import os
import re

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tests_module(name: str):
    """A helper module from the repo's ``tests/`` directory: the
    pure-Python reference semantics and the DuckDB parity helpers the
    test suite itself compares against."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, "tests", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_chunk_table(chunks: pd.DataFrame, expected: dict[str, str], dim: int,
                      chunk_size: int = 1200, overlap: int = 200) -> list[str]:
    """``chunks`` has columns id, chunk_text, embedding, filename,
    chunk_pos. Per file, the chunks in ``chunk_pos`` order must equal
    the reference ``fixed_windows(clean_text(text))``; ``id`` must be
    dense 1..n and unique; every embedding has ``dim`` finite floats."""
    ref = tests_module("reference_semantics")
    problems: list[str] = []
    want = {}
    for fname, text in expected.items():
        cleaned = ref.clean_text(text)
        if cleaned:
            want[fname] = ref.fixed_windows(cleaned, chunk_size, overlap)
    got: dict[str, list[str]] = {}
    for fname, grp in chunks.sort_values(["filename", "chunk_pos"]).groupby("filename"):
        got[fname] = list(grp["chunk_text"])
    if set(got) != set(want):
        problems.append(f"files: {len(set(got) - set(want))} unexpected, "
                        f"{len(set(want) - set(got))} missing")
    bad = [f for f in set(got) & set(want) if got[f] != want[f]]
    if bad:
        problems.append(f"chunks differ from the reference in {len(bad)} files, e.g. {sorted(bad)[0]}")
    ids = np.sort(chunks["id"].to_numpy())
    if not np.array_equal(ids, np.arange(1, len(ids) + 1)):
        problems.append("id is not dense and unique over 1..n")
    for emb in chunks["embedding"]:
        arr = np.asarray(emb, dtype=np.float64)
        if arr.shape != (dim,) or not np.isfinite(arr).all():
            problems.append(f"an embedding is not {dim} finite floats")
            break
    return problems


_WARN = re.compile(r"warning: (\d+) file\(s\) failed extraction:")


def check_error_rows(stderr: str, corrupt: list[str]) -> list[str]:
    """The CLI's extraction warning must name exactly the planted
    corrupt files (it lists at most 10 by name)."""
    m = _WARN.search(stderr)
    n_bad = int(m.group(1)) if m else 0
    listed = set(re.findall(r"^  (\S+): ", stderr, flags=re.M))
    problems = []
    if n_bad != len(corrupt):
        problems.append(f"{n_bad} error rows, {len(corrupt)} planted corrupt files")
    if len(corrupt) <= 10 and listed != set(corrupt):
        problems.append(f"error rows {sorted(listed)} != planted {sorted(corrupt)}")
    return problems


def check_frame(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact equality after sorting columns and rows, as the DuckDB
    parity tests compare (floats bit-equal, integer/float kinds kept)."""
    norm = tests_module("parity_util").normalize
    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle has {len(want)}"]
    for c in got.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        if (gk in "iu" and wk == "f") or (gk == "f" and wk in "iu"):
            return [f"{c}: integer/float kind mismatch"]
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return [str(e).splitlines()[0]]
    return []


_KNN_LINE = re.compile(r"^\[(\d+)\] sim=(\S+) (\S+): (.*)$")


def numpy_topk(emb: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Brute-force cosine top-k with the engine's tiebreak (sim desc, id)."""
    emb = emb.astype(np.float64)
    q = q.astype(np.float64)
    sim = emb @ q / (np.linalg.norm(emb, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -sim))[:k]
    return [(int(ids[i]), float(sim[i])) for i in order]


def check_knn(stdout: str, want: list[tuple[str, str, float]]) -> list[str]:
    """``cli query`` output lines against the NumPy top-k given as
    (filename, chunk_text, sim) in rank order."""
    rows = [_KNN_LINE.match(ln) for ln in stdout.splitlines() if ln.startswith("[")]
    if len(rows) != len(want) or not all(rows):
        return [f"{len(rows)} result lines, want {len(want)}"]
    for m, (fname, text, sim) in zip(rows, want):
        # the CLI prints chunk_text[:100], which may span lines
        if m.group(3) != fname or m.group(4) != text[:100].split("\n")[0]:
            return [f"rank {m.group(1)}: {m.group(3)} != {fname}"]
        if not math.isclose(float(m.group(2)), sim, abs_tol=1.5e-4):
            return [f"rank {m.group(1)}: sim {m.group(2)} != {sim:.4f}"]
    return []


def check_hybrid(stdout: str, k: int) -> list[str]:
    rows = [ln for ln in stdout.splitlines() if re.match(r"^\[\d+\] rrf=\d+ ", ln)]
    return [] if len(rows) == k else [f"{len(rows)} hybrid result lines, want {k}"]


def check_curated(table: pd.DataFrame, truth: dict) -> list[str]:
    """``cli curate`` output (doc_id, text, split) against the planted
    documents of ``gen.write_docs_table``: every planted exact duplicate
    and low-quality doc is removed, no other doc is removed, texts are
    unchanged, and every doc is in exactly one of train/val/test."""
    kinds, keep = truth["kinds"], truth["keep"]
    ids = table["doc_id"].astype("int64").tolist()
    got = set(ids)
    problems: list[str] = []
    if len(got) != len(ids):
        problems.append(f"{len(ids) - len(got)} doc_ids appear more than once")
    extra = got - keep
    for kind, what in (("exact", "planted exact duplicates"), ("lowq", "planted low-quality docs")):
        n = sum(kinds.get(i) == kind for i in extra)
        if n:
            problems.append(f"{n} {what} kept")
    if any(i not in kinds for i in extra):
        problems.append("doc_ids that are not in the input")
    lost = keep - got
    if lost:
        problems.append(f"{len(lost)} distinct docs removed, e.g. doc_id {min(lost)} "
                        f"({kinds[min(lost)]})")
    changed = sum(truth["text"].get(i) != t for i, t in zip(ids, table["text"]))
    if changed:
        problems.append(f"{changed} texts differ from the input")
    splits = set(table["split"].astype(str))
    if not splits <= {"train", "val", "test"}:
        problems.append(f"unknown splits {sorted(splits - {'train', 'val', 'test'})}")
    return problems
