"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from ``--seed``:
the same seed gives byte-identical inputs. Three inputs exist:

* ``write_raw_corpus``: a directory of PDF (FlateDecode), DOCX and TXT
  files plus a few planted corrupt or out-of-scope files. The expected
  extracted text of each good file is returned, so the chunk table can
  be checked against a pure-Python reference.
* ``write_docs_table``: a ``(doc_id, text)`` parquet table with planted
  exact duplicates, edited near duplicates and low-quality docs. The
  doc ids a correct exact-dedup curation keeps are returned.
* ``write_tables``: the engine's ten test tables (TPC-H-like star
  schema, ``events``, ``documents``, ``embeddings``) with the schemas of
  ``document_vector_indexer_spark.io.SCHEMAS``.

Text is English-like: Zipf-distributed words from a seeded pseudo-word
vocabulary, Zipf-weighted stopwords ("the" and "of" in every doc),
capitalised sentences ending in ``.``, ``?`` or ``!``, and paragraphs,
so sentence and paragraph chunkers meet real boundaries, and quality
rules that count stopwords keep every good doc.
"""

from __future__ import annotations

import io
import os
import zipfile
import zlib

import numpy as np

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
             "on", "with", "as", "was", "by", "at", "from", "this", "be", "or")
_SYLLABLES = ("ka", "lo", "mi", "ren", "sta", "vor", "qui", "del", "pan",
              "tri", "bo", "sen", "mar", "gul", "fe", "dra", "nis", "op",
              "yel", "cor", "ta", "ex", "um", "bri", "hal", "zo", "ne", "ist")

# Rates planted in every generated document set.
EXACT_DUP_RATE = 0.05   # docs that are byte-identical copies of an earlier doc
NEAR_DUP_RATE = 0.05    # docs that are edited copies of an earlier doc
NEAR_EDIT_FRAC = 0.03   # share of a near duplicate's content words replaced
LOW_QUALITY_RATE = 0.03  # docs built to fail the Gopher rules
CORRUPT_RATE = 0.01     # raw files that must become error rows
RAW_MEDIAN_WORDS = 150  # raw files: report-sized documents
TABLE_MEDIAN_WORDS = 40  # the documents table: snippets, as in the engine's test corpus
DOCS_FILES = 4          # files of the curate table, so that its scan is several tasks


_ENDS = (".", ".", ".", "?", "!")
_STOP_P = 1.0 / np.arange(1, len(STOPWORDS) + 1)  # Zipf over the stopwords, as in English
_STOP_P /= _STOP_P.sum()


class TextGen:
    """English-like text from one seeded vocabulary."""

    def __init__(self, rng: np.random.Generator, vocab_size: int = 6000):
        self.rng = rng
        words: set[str] = set()
        while len(words) < vocab_size:
            n = int(rng.integers(2, 5))
            words.add("".join(rng.choice(_SYLLABLES, n)))
        self.vocab = np.array(sorted(words))
        ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
        p = ranks ** -0.9
        self.cdf = np.cumsum(p / p.sum())

    def paragraphs(self, n_words: int) -> list[str]:
        """Paragraphs of 3-7 sentences of 6-18 words, ``n_words`` in all
        (drawn in one batch per doc)."""
        rng = self.rng
        idx = np.searchsorted(self.cdf, rng.random(n_words), side="right")
        words = self.vocab[np.minimum(idx, len(self.vocab) - 1)].astype(object)
        use_stop = rng.random(n_words) < 0.35
        words[use_stop] = np.array(STOPWORDS, dtype=object)[
            rng.choice(len(STOPWORDS), int(use_stop.sum()), p=_STOP_P)]
        # as in any English text of a few sentences, "the" and "of" occur
        words[1:4:2] = ("the", "of")[: len(words[1:4:2])]
        paras, cur, i = [], [], 0
        while i < n_words:
            sent = list(words[i: i + int(rng.integers(6, 19))])
            i += len(sent)
            sent[0] = sent[0].capitalize()
            cur.append(" ".join(sent) + _ENDS[int(rng.integers(0, len(_ENDS)))])
            if len(cur) >= int(rng.integers(3, 8)):
                paras.append(" ".join(cur))
                cur = []
        if cur:
            paras.append(" ".join(cur))
        return paras

    def doc_lengths(self, n: int, median: int) -> np.ndarray:
        """``n`` long-tailed lengths in words: lognormal around
        ``median``, rescaled so that their sum is the same for every
        seed (the corpus size then does not move with the seed), and at
        least a quarter of the median."""
        sigma = 0.9
        lens = self.rng.lognormal(np.log(median), sigma, n)
        lens *= n * median * np.exp(sigma**2 / 2) / lens.sum()
        return np.maximum(lens, median // 4).astype(int)

    def edit(self, paras: list[str], frac: float) -> list[str]:
        """Replace ``frac`` of the content words, and at least one, with
        other vocabulary words, so the copy is never identical to its
        source. Stopwords are kept."""
        words = [p.split(" ") for p in paras]
        flat = [(i, j) for i, ws in enumerate(words) for j, w in enumerate(ws)
                if w.lower().strip(".?!") not in STOPWORDS]
        picks = np.flatnonzero(self.rng.random(len(flat)) < frac)
        if not len(picks):
            picks = [int(self.rng.integers(0, len(flat)))]
        for k in picks:
            i, j = flat[k]
            new = words[i][j]
            while new == words[i][j]:
                new = str(self.vocab[self.rng.integers(0, len(self.vocab))])
            words[i][j] = new
        return [" ".join(ws) for ws in words]

    def low_quality(self) -> str:
        """A doc the Gopher rules reject: symbol- and digit-heavy."""
        n = int(self.rng.integers(30, 80))
        toks = [str(int(x)) for x in self.rng.integers(0, 10**6, n)]
        toks[:: 3] = ["#"] * len(toks[::3])
        return " ".join(toks)


def _plant_docs(tg: TextGen, n: int, median_words: int) -> tuple[list[list[str]], list[str]]:
    """``n`` docs, each a list of paragraphs, with fixed counts of
    planted exact duplicates, edited near duplicates and low-quality
    docs, and the kind of each (``orig``, ``exact``, ``near``,
    ``lowq``). Copies come after their original and are made of docs of
    at most twice the median length, so the corpus size stays steady
    across seeds."""
    rng = tg.rng
    planted = (["exact"] * round(n * EXACT_DUP_RATE) + ["near"] * round(n * NEAR_DUP_RATE)
               + ["lowq"] * round(n * LOW_QUALITY_RATE))
    head = n // 10  # the first docs are all originals, so copies have sources
    tail = planted + ["orig"] * (n - head - len(planted))
    kinds = ["orig"] * head + [tail[i] for i in rng.permutation(len(tail))]
    lengths = iter(tg.doc_lengths(kinds.count("orig"), median_words))
    docs: list[list[str]] = []
    sources: list[int] = []
    for i, kind in enumerate(kinds):
        if kind in ("exact", "near"):
            src = docs[sources[int(rng.integers(0, len(sources)))]]
            docs.append(list(src) if kind == "exact" else tg.edit(src, NEAR_EDIT_FRAC))
        elif kind == "lowq":
            docs.append([tg.low_quality()])
        else:
            length = int(next(lengths))
            if length <= 2 * median_words:
                sources.append(i)
            docs.append(tg.paragraphs(length))
    return docs, kinds


# --- raw documents ----------------------------------------------------


def _pdf_escape(s: str) -> bytes:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)").encode("latin-1")


def _wrap(p: str, width: int = 90) -> list[str]:
    lines, cur = [], ""
    for w in p.split(" "):
        if cur and len(cur) + 1 + len(w) > width:
            lines.append(cur)
            cur = w
        else:
            cur = f"{cur} {w}" if cur else w
    if cur:
        lines.append(cur)
    return lines


def build_pdf(lines: list[str]) -> bytes:
    """A valid one-page PDF with a FlateDecode content stream showing
    ``lines`` one per text line (``""`` is a blank line), with a
    correct xref table."""
    ops = [b"BT /F1 10 Tf 12 TL 72 760 Td"]
    for k, ln in enumerate(lines):
        if k:
            ops.append(b"T*")
        if ln:
            ops.append(b"(" + _pdf_escape(ln) + b") Tj")
    ops.append(b"ET")
    body = zlib.compress(b"\n".join(ops))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (len(body), body),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, obj)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref_at)
    return bytes(out)


def build_docx(paragraphs: list[str]) -> bytes:
    """A minimal ECMA-376 DOCX container, one ``w:p`` per paragraph."""
    W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    paras = "".join(
        f'<w:p><w:r><w:t xml:space="preserve">{p}</w:t></w:r></w:p>' for p in paragraphs
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{W}"><w:body>{paras}</w:body></w:document>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>'
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
        'relationships"><Relationship Id="rId1" Type="http://schemas.'
        "openxmlformats.org/officeDocument/2006/relationships/officeDocument"
        '" Target="word/document.xml"/></Relationships>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in (("[Content_Types].xml", content_types),
                           ("_rels/.rels", rels), ("word/document.xml", document)):
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            z.writestr(info, data, zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def _corrupt_file(rng: np.random.Generator, k: int) -> tuple[str, bytes]:
    """Three planted failure shapes, in rotation: bytes that are not a
    PDF, an encrypted PDF (out of scope for the stdlib extractor) and a
    DOCX that is not a zip container."""
    junk = rng.bytes(int(rng.integers(200, 2000)))
    kind = k % 3
    if kind == 0:
        return "pdf", b"GARBAGE" + junk
    if kind == 1:
        return "pdf", build_pdf(["secret"]).replace(
            b"/Root 1 0 R", b"/Root 1 0 R /Encrypt << /Filter /Standard >>")
    return "docx", b"PK\x03\x04" + junk


def write_raw_corpus(dest: str, seed: int, n_files: int) -> dict:
    """Write ``n_files`` documents into ``dest``; return the manifest
    ``{"expected": {filename: text}, "corrupt": [filename], "bytes": n}``.

    Good files rotate PDF, DOCX, TXT. The expected text is exactly what
    a correct extractor yields: PDF lines (blank line between
    paragraphs), DOCX paragraphs joined by newlines, TXT verbatim.
    """
    rng = np.random.default_rng([seed, 1])
    tg = TextGen(rng)
    os.makedirs(dest, exist_ok=True)
    n_corrupt = max(1, round(n_files * CORRUPT_RATE))
    # corrupt files take extra slots, so the good text is the same size
    # whichever slots they land in
    corrupt_at = set(rng.choice(n_files, n_corrupt, replace=False).tolist())
    docs = iter(_plant_docs(tg, n_files - n_corrupt, RAW_MEDIAN_WORDS)[0])
    expected: dict[str, str] = {}
    corrupt: list[str] = []
    total = 0
    for i in range(n_files):
        if i in corrupt_at:
            ext, data = _corrupt_file(rng, len(corrupt))
            name = f"doc_{i:05d}.{ext}"
            corrupt.append(name)
        else:
            ext = ("pdf", "docx", "txt")[i % 3]
            name = f"doc_{i:05d}.{ext}"
            paras = next(docs)
            if ext == "pdf":
                lines: list[str] = []
                for p in paras:
                    if lines:
                        lines.append("")
                    lines.extend(_wrap(p))
                data = build_pdf(lines)
                expected[name] = "\n".join(lines)
            elif ext == "docx":
                data = build_docx(paras)
                expected[name] = "\n".join(paras)
            else:
                expected[name] = "\n\n".join(paras)
                data = expected[name].encode("utf-8")
        with open(os.path.join(dest, name), "wb") as f:
            f.write(data)
        total += len(data)
    return {"expected": expected, "corrupt": sorted(corrupt), "bytes": total}


# --- parquet tables ----------------------------------------------------


def _write_parquet(df, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def write_docs_table(path: str, seed: int, n_docs: int) -> dict:
    """Write ``n_docs`` documents as a ``(doc_id, text)`` parquet table
    of ``DOCS_FILES`` files in the directory ``path``; return ``{"text": {doc_id: text}, "kinds": {doc_id: kind},
    "keep": set of doc_ids, "bytes": n}``.

    Good docs have report-sized lengths (median ``RAW_MEDIAN_WORDS``,
    never under the Gopher minimum), so the quality rules keep every one
    of them and reject every planted low-quality doc. ``keep`` is what a
    correct exact-dedup curation outputs: every doc that is not low
    quality, except the copies of a text seen at a lower doc_id.
    """
    import pandas as pd

    rng = np.random.default_rng([seed, 2])
    docs, kinds = _plant_docs(TextGen(rng), n_docs, RAW_MEDIAN_WORDS)
    texts = ["\n\n".join(d) for d in docs]
    seen: set[str] = set()
    keep: set[int] = set()
    for i, (kind, t) in enumerate(zip(kinds, texts)):
        if kind != "lowq" and t not in seen:
            keep.add(i)
        seen.add(t)
    os.makedirs(path, exist_ok=True)
    table = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    size = 0
    for k, part in enumerate(np.array_split(np.arange(n_docs), DOCS_FILES)):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        _write_parquet(table.iloc[part], f)
        size += os.path.getsize(f)
    return {"text": dict(enumerate(texts)), "kinds": dict(enumerate(kinds)), "keep": keep,
            "bytes": size}


def write_tables(dest: str, seed: int, scale: float) -> list[str]:
    """The ten engine tables at ``scale`` (1.0 = 6M lineitem rows),
    value domains as in the engine's TPC-H-like test corpus: 2-decimal
    money, day-resolution dates, 5 event types, 64-dim embeddings with
    10 clustered labels. Returns two query texts of frequent words."""
    import pandas as pd

    rng = np.random.default_rng([seed, 3])
    os.makedirs(dest, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = max(15, int(15_000 * scale))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": regions}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "red", "large", "blue", "steel"], n_part),
                rng.choice(["ring", "widget", "bolt", "gear", "plate"], n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": money(900, 2100, n_part),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": days("1995-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 100000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": days("1995-01-02", 2500, n_li),
        }),
    }
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": money(0, 200, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_docs = max(50, int(50_000 * scale))
    tg = TextGen(rng)
    texts = ["\n\n".join(d) for d in _plant_docs(tg, n_docs, TABLE_MEDIAN_WORDS)[0]]
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_emb = max(50, int(20_000 * scale))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_emb, 64))) * 0.05
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": labels.astype(np.int32),
    })
    for name, df in tables.items():
        _write_parquet(df, os.path.join(dest, f"{name}.parquet"))
    return [" ".join(tg.vocab[rng.integers(10, 300, 3)]) for _ in range(2)]

