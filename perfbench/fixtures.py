"""Seeded benchmark inputs, written with numpy + pyarrow.

The inputs are built here rather than with ``sparkjesse.generator`` so
that a change to the program cannot change what it is measured on, and
so that a million-doc table costs a few seconds of numpy instead of
half a minute of Spark higher-order-function generation.

The input is the interleaved-docs table ``(doc_id string, spans
array<struct<kind, text, media_ref, offset>>)`` with the generator's
statistical shape: 1-8 spans per doc, 70% text spans, ~2% of rows on 8
hot ``doc_id``s, ~0.1% duplicate ids. A dirty variant plants exactly
one violation in a seeded share of the docs. The plant record goes to
a side table, never into the validated table, so the program sees only
the interleaved columns (and the salt tiebreak hash over them).

Every array comes from ``numpy.random.default_rng(seed)``, so the same
seed writes byte-identical tables.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when the bytes a seed produces change; part of the cache key.
WRITER_VERSION = 2

WORDS = ["lorem", "ipsum", "dolor", "sit", "amet", "consectetur",
         "adipiscing", "elit", "sed", "do", "eiusmod", "tempor",
         "incididunt", "ut", "labore", "et", "dolore", "magna", "aliqua"]
KINDS = ["text", "image", "audio", "video", "gif"]  # "gif" is planted only

# Planted violation -> the (error_type, schema_ptr) jesse's draft-4
# semantics give it under INTERLEAVED_SCHEMA. ``schema_ptr`` points at
# the failing keyword's fragment, the convention the golden-error tests
# pin (jesse reports an ``enum`` miss as not_in_range).
PLANTS = {
    "doc_id_pattern": ("no_match", "/properties/doc_id/pattern"),
    "doc_id_length": ("wrong_length", "/properties/doc_id/maxLength"),
    "spans_empty": ("wrong_size", "/properties/spans/minItems"),
    "kind_enum": ("not_in_range",
                  "/properties/spans/items/properties/kind/enum"),
    "offset_max": ("not_in_range",
                   "/properties/spans/items/properties/offset/maximum"),
    "media_ref_pattern": (
        "no_match", "/properties/spans/items/properties/media_ref/pattern"),
    "kind_missing": ("missing_required_property",
                     "/properties/spans/items/required"),
}
PLANT_NAMES = list(PLANTS)

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()),
                       ("offset", pa.int32())])


def _prefixed(prefix: np.ndarray, numbers: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        pa.array(prefix), pc.cast(pa.array(numbers), pa.string()), "")


def interleaved(seed: int, n_docs: int, dirty_share: float = 0.0
                ) -> tuple[pa.Table, pa.Table]:
    """(docs, planted): the interleaved table and one side-table row per
    planted violation ``(row, plant, error_type, schema_ptr)``."""
    rng = np.random.default_rng(seed)
    idx = np.arange(n_docs, dtype=np.int64)
    r = rng.random(n_docs)
    doc_index = np.where(r < 0.02, rng.integers(0, 8, n_docs),
                         np.where(r < 0.021, np.maximum(idx - 1, 0), idx))

    n_dirty = int(round(dirty_share * n_docs))
    dirty = np.sort(rng.choice(n_docs, n_dirty, replace=False))
    plant = np.full(n_docs, -1, dtype=np.int64)
    plant[dirty] = rng.permutation(n_dirty) % len(PLANTS)

    def planted(name: str) -> np.ndarray:
        return plant == PLANT_NAMES.index(name)

    n_spans = rng.integers(1, 9, n_docs)
    n_spans[planted("spans_empty")] = 0
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_spans, out=offsets[1:])
    n_total = int(offsets[-1])
    j = np.arange(n_total) - np.repeat(offsets[:-1], n_spans)

    kind = rng.choice(10, n_total)
    kind = np.where(kind < 7, 0, kind - 6)          # 70% text
    first = offsets[:-1]
    for name, code in (("kind_enum", 4), ("media_ref_pattern", 1)):
        kind[first[planted(name)]] = code
    is_text = kind == 0
    kind_null = np.zeros(n_total, dtype=bool)
    kind_null[first[planted("kind_missing")]] = True

    pool_len = rng.integers(1, 13, 2048)
    pool = pa.array([" ".join(WORDS[w] for w in rng.integers(0, len(WORDS),
                                                             k))
                     for k in pool_len])
    text = pool.take(pa.array(rng.integers(0, len(pool), n_total),
                              mask=~is_text))
    media_prefix = np.full(n_total, "m")
    media_prefix[first[planted("media_ref_pattern")]] = "x"
    media_num = rng.integers(0, max(10, n_docs // 4) * 101 // 100, n_total)
    media_ref = pc.if_else(pa.array(is_text), pa.nulls(n_total, pa.string()),
                           _prefixed(media_prefix, media_num))
    offset = (j * 100 + rng.integers(0, 100, n_total)).astype(np.int32)
    offset[first[planted("offset_max")]] += 2_000_000

    spans = pa.StructArray.from_arrays(
        [pa.array(KINDS).take(pa.array(kind, mask=kind_null)), text,
         media_ref, pa.array(offset)], fields=list(SPAN_TYPE))
    doc_prefix = np.where(planted("doc_id_pattern"), "x", "d")
    number = pc.cast(pa.array(doc_index), pa.string())
    number = pc.if_else(pa.array(planted("doc_id_length")),
                        pc.utf8_lpad(number, 30, "1"), number)
    doc_id = pc.binary_join_element_wise(pa.array(doc_prefix), number, "")
    docs = pa.table({"doc_id": doc_id,
                     "spans": pa.ListArray.from_arrays(pa.array(offsets),
                                                       spans)})
    names = [PLANT_NAMES[p] for p in plant[dirty]]
    side = pa.table({
        "row": pa.array(dirty, pa.int64()),
        "plant": pa.array(names, pa.string()),
        "error_type": pa.array([PLANTS[p][0] for p in names], pa.string()),
        "schema_ptr": pa.array([PLANTS[p][1] for p in names], pa.string()),
    })
    return docs, side


def _write_files(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def materialize(root: str, workload: str, seed: int, size: int,
                build) -> dict:
    """Write ``build(seed, size)``'s tables under a cache directory keyed
    by (workload, seed, size, writer version) and return
    ``{name: path}``. ``build`` returns ``{name: (table, n_files)}``.
    A cached entry is reused only when every table's row count matches
    the count recorded when it was written."""
    key = f"{workload}-s{seed}-n{size}-v{WRITER_VERSION}"
    path = os.path.join(root, key)
    manifest = os.path.join(path, "rows.json")
    if os.path.exists(manifest):
        with open(manifest, encoding="utf-8") as fh:
            want = json.load(fh)
        if all(_rows(os.path.join(path, name)) == n
               for name, n in want.items()):
            return {name: os.path.join(path, name) for name in want}
        shutil.rmtree(path)
    # keep one cached input per workload: every run may use a new seed
    for old in os.listdir(root) if os.path.isdir(root) else []:
        if old.startswith(f"{workload}-s"):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    tmp = path + ".tmp"
    os.makedirs(tmp)
    rows = {}
    for name, (table, n_files) in build(seed, size).items():
        _write_files(table, os.path.join(tmp, name), n_files)
        rows[name] = table.num_rows
    with open(os.path.join(tmp, "rows.json"), "w", encoding="utf-8") as fh:
        json.dump(rows, fh)
    os.rename(tmp, path)
    return {name: os.path.join(path, name) for name in rows}


def _words(rng, n: int, letters: str) -> np.ndarray:
    """``n`` distinct lowercase words of 4-9 letters drawn from
    ``letters`` (4+ letters keeps every word off the stopword list)."""
    alphabet = np.array(list(letters))
    out: dict[str, None] = {}
    while len(out) < n:
        out["".join(rng.choice(alphabet, rng.integers(4, 10)))] = None
    return np.array(list(out))


# Plant counts of the text corpus, per 100 base docs.
CORPUS_PLANTS = {"exact_dup": 6, "near_dup": 6, "bench_copy": 5,
                 "pii": 5, "low_quality": 4}


def corpus(seed: int, n_base: int) -> tuple[pa.Table, pa.Table, pa.Table]:
    """(docs, bench, planted): a text corpus ``(doc_id, text)``, the
    benchmark passages it is decontaminated against, and one row per
    planted doc ``(doc_id, plant, source, marker)``.

    Base docs draw 30-120 tokens uniformly from a 2,000-word vocabulary,
    so two base docs essentially never fall within SimHash range of each
    other and near-duplicate density stays at the planted share. The
    benchmark's words use a disjoint alphabet, so only the planted
    copies share a word 3-gram with it. Plants, each on its own source
    doc: exact copies of a base text; copies with one token changed;
    fresh docs carrying a 12-token benchmark passage; fresh docs
    carrying an email and a phone number; 5-token docs the quality
    filter drops. ``doc_id`` is the row number (``dedup`` keys are
    integers), so every copy sorts after its source."""
    rng = np.random.default_rng(seed)
    vocab = _words(rng, 2000, "abcdefghijklm")
    bench_vocab = _words(rng, 500, "nopqrstuvwxyz")

    def text(k: int) -> list[str]:
        return list(vocab[rng.integers(0, len(vocab), k)])

    base = [text(int(rng.integers(30, 121))) for _ in range(n_base)]
    bench = [list(bench_vocab[rng.integers(0, len(bench_vocab), 40)])
             for _ in range(8)]
    counts = {p: max(1, n_base * k // 100)
              for p, k in CORPUS_PLANTS.items()}
    sources = rng.permutation(n_base)
    texts = [" ".join(t) for t in base]
    plants: list[tuple[int, str, int, str]] = []
    used = 0
    for plant, k in counts.items():
        for src in sources[used:used + k] if plant in (
                "exact_dup", "near_dup") else [-1] * k:
            if plant == "exact_dup":
                t, marker = texts[src], ""
            elif plant == "near_dup":
                toks = list(base[src])
                toks[int(rng.integers(0, len(toks)))] = "zzzz"
                t, marker = " ".join(toks), ""
            elif plant == "bench_copy":
                passage = bench[int(rng.integers(0, len(bench)))]
                at = int(rng.integers(0, 28))
                marker = " ".join(passage[at:at + 12])
                toks = text(int(rng.integers(30, 121)))
                toks.insert(int(rng.integers(0, len(toks))), marker)
                t = " ".join(toks)
            elif plant == "pii":
                n = len(plants)
                marker = f"user{n}@mail{n}.example.com"
                toks = text(int(rng.integers(30, 121)))
                toks.insert(int(rng.integers(0, len(toks))), marker)
                toks.insert(int(rng.integers(0, len(toks))),
                            f"555-{n % 1000:03d}-{seed % 10000:04d}")
                t = " ".join(toks)
            else:
                t, marker = " ".join(text(5)), ""
            texts.append(t)
            plants.append((len(texts) - 1, plant, int(src), marker))
        if plant in ("exact_dup", "near_dup"):
            used += k
    docs = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                     "text": texts})
    bench_t = pa.table({"doc_id": pa.array(range(len(bench)), pa.int64()),
                        "text": [" ".join(b) for b in bench]})
    planted = pa.table({
        "doc_id": pa.array([i for i, *_ in plants], pa.int64()),
        "plant": [p for _, p, _, _ in plants],
        "source": pa.array([s if s >= 0 else None for _, _, s, _ in plants],
                           pa.int64()),
        "marker": [m for *_, m in plants],
    })
    return docs, bench_t, planted
