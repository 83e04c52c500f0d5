"""Seeded input generation for the benchmark workloads.

Everything the engine reads is made here from ``--seed`` and written to
files; the same seed gives byte-identical files. Text is drawn from a fixed
synthetic vocabulary with a Zipf-Mandelbrot word distribution, so documents
share frequent words (and frequent shingles) the way natural text does.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np

# (name, component_code). Codes are sparse on purpose (8 is absent), as
# the reference's LIST partition codes are.
COMPONENTS: list[tuple[str, int]] = [("observer", 1), ("connector", 2), ("console", 9)]
# An ingest batch spreads over two of them: each component costs an ingest
# op one ingest_documents call of about 1.3 s whatever its size, and with
# two the op is short enough to be timed twice in a run.
INGEST_COMPONENTS: list[tuple[str, int]] = [("observer", 1), ("console", 9)]
COMPONENT_ZIPF_S = 1.1
MAX_CHUNK_SIZE = 1024  # passed to ingest_documents; long sections sub-chunk

_STOPWORDS = ["the", "a", "of", "and", "in", "to", "is"]
_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa", "qua", "der",
    "ion", "bal", "cor", "fen", "gri", "hol", "jun", "kes", "lum", "mor",
    "nis", "oph", "pel", "rax", "sim", "tor", "ul", "ven", "wyn", "xar",
]
_VOCAB_SIZE = 6000


def _build_vocab() -> tuple[list[str], np.ndarray]:
    """The fixed vocabulary (independent of the workload seed) and its
    Zipf-Mandelbrot rank probabilities. Stopwords take the top ranks."""
    rng = np.random.default_rng(20240601)
    words: list[str] = list(_STOPWORDS)
    seen = set(words)
    while len(words) < _VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    ranks = np.arange(1, _VOCAB_SIZE + 1, dtype=np.float64)
    p = 1.0 / (ranks + 2.7) ** 1.05
    return words, p / p.sum()


VOCAB, VOCAB_P = _build_vocab()
_VOCAB_ARR = np.array(VOCAB, dtype=object)
_VOCAB_CDF = np.cumsum(VOCAB_P)


def words(rng: np.random.Generator, n: int) -> list[str]:
    idx = np.searchsorted(_VOCAB_CDF, rng.random(n) * _VOCAB_CDF[-1], side="right")
    return list(_VOCAB_ARR[np.minimum(idx, _VOCAB_SIZE - 1)])


def sentence_text(rng: np.random.Generator, n_words: int) -> str:
    """Words grouped into sentences of 6-18 words, each ending in '.'."""
    ws = words(rng, n_words)
    out: list[str] = []
    i = 0
    while i < n_words:
        k = int(rng.integers(6, 19))
        s = ws[i : i + k]
        out.append(" ".join([s[0].capitalize()] + s[1:]) + ".")
        i += k
    return " ".join(out)


def component_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** COMPONENT_ZIPF_S
    return w / w.sum()


def markdown_doc(rng: np.random.Generator) -> str:
    """One markdown document: an H1 title and 2-5 sections. About one
    section in ten is long enough to be sub-chunked; about one heading in
    five is written setext-style."""
    parts = ["# " + " ".join(words(rng, 3)).title(), ""]
    for _ in range(int(rng.integers(2, 6))):
        heading = " ".join(words(rng, int(rng.integers(2, 5)))).title()
        if rng.random() < 0.2:
            parts += [heading, "-" * len(heading), ""]
        else:
            parts += ["## " + heading, ""]
        n_words = int(rng.integers(180, 320)) if rng.random() < 0.1 else int(rng.integers(20, 90))
        parts += [sentence_text(rng, n_words), ""]
    return "\n".join(parts)


@dataclasses.dataclass
class MarkdownBatch:
    root: str
    # component_code -> number of docs written for it
    docs_per_code: dict[int, int]
    raw_bytes: int

    @property
    def n_docs(self) -> int:
        return sum(self.docs_per_code.values())

    def component_dir(self, name: str) -> str:
        return os.path.join(self.root, name)


def write_markdown_batch(rng: np.random.Generator, root: str, n_docs: int) -> MarkdownBatch:
    """``n_docs`` markdown files under ``root/<component>/``, one file per
    document, the ingest components drawn with Zipf skew."""
    codes = rng.choice(len(INGEST_COMPONENTS), size=n_docs,
                       p=component_weights(len(INGEST_COMPONENTS)))
    per_code: dict[int, int] = {}
    raw = 0
    for i, ci in enumerate(codes):
        name, code = INGEST_COMPONENTS[int(ci)]
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        data = markdown_doc(rng).encode("utf-8")
        with open(os.path.join(d, f"doc_{i:06d}.md"), "wb") as f:
            f.write(data)
        raw += len(data)
        per_code[code] = per_code.get(code, 0) + 1
    return MarkdownBatch(root, per_code, raw)


def write_corpus_table(rng: np.random.Generator, path: str, n_chunks: int, n_files: int,
                       encode) -> int:
    """An already-chunked, already-embedded corpus table in the engine's
    corpus schema (id, embedding, document, metadata, component_code),
    written with pyarrow and partitioned by component_code like
    ``ingest_documents`` output. ``encode`` maps a list of texts to an
    (n, d) float32 array. Returns the raw bytes of the chunk texts."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    codes = rng.choice(len(COMPONENTS), size=n_chunks, p=component_weights(len(COMPONENTS)))
    docs = [sentence_text(rng, int(rng.integers(20, 90))) for _ in range(n_chunks)]
    raw = rng.integers(0, 256, size=(n_chunks, 16), dtype=np.uint8)
    ids = []
    for b in raw:
        h = bytes(b).hex()
        ids.append(f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}")
    vecs = encode(docs)
    meta = []
    for i, ci in enumerate(codes):
        name = COMPONENTS[int(ci)][0]
        url = f"corpus/{name}/doc_{i // 4:06d}.md"
        title = " ".join(docs[i].split(" ")[:3])
        meta.append([("doc_url", url), ("doc_name", title), ("component", name),
                     ("chunk_title", title), ("enhanced_title", title)])
    tbl = pa.table({
        "id": pa.array(ids, pa.string()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "document": pa.array(docs, pa.string()),
        "metadata": pa.array(meta, pa.map_(pa.string(), pa.string())),
        "component_code": pa.array([COMPONENTS[int(c)][1] for c in codes], pa.int32()),
    })
    pads.write_dataset(
        tbl, path, format="parquet", partitioning=["component_code"],
        partitioning_flavor="hive", max_rows_per_file=-(-n_chunks // n_files),
        max_rows_per_group=-(-n_chunks // n_files),
        basename_template="part-{i}.parquet",
    )
    return sum(len(d.encode("utf-8")) for d in docs)


def questions(rng: np.random.Generator, n: int) -> list[str]:
    """Short question texts in the corpus vocabulary."""
    return [
        "how does " + " ".join(words(rng, int(rng.integers(4, 9)))) + " work?"
        for _ in range(n)
    ]


@dataclasses.dataclass
class DataprepBatch:
    path: str
    n_docs: int
    raw_bytes: int
    # ids of the original docs: every one must survive the pipeline
    bases: set[int]
    # (kept_id, removed_id): identical after whitespace/case normalization
    exact_pairs: list[tuple[int, int]]
    # (base_id, copy_id): the copy differs from its base in one token
    near_pairs: list[tuple[int, int]]
    # ids whose text fails the quality filter (too few tokens)
    low_quality: set[int]


# planted copies and low-quality docs, as shares of the base docs
EXACT_FRAC = 0.1
NEAR_FRAC = 0.1
LOW_FRAC = 0.03


def write_dataprep_batch(
    rng: np.random.Generator, path: str, n_base: int, n_files: int
) -> DataprepBatch:
    """A parquet dataset of (doc_id, text) in ``n_files`` files.

    Planted at known ids: exact duplicates of base docs (same words, with
    extra whitespace and a changed case, so only the normalized fingerprint
    matches), one-token-edit near duplicates, and short low-quality docs.
    A base doc gets at most one planted copy, and every copy has a larger id
    than its base, so the keep-min-id policy keeps the base."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [sentence_text(rng, int(rng.integers(60, 160))) for _ in range(n_base)]
    n_exact = int(n_base * EXACT_FRAC)
    n_near = int(n_base * NEAR_FRAC)
    n_low = max(1, int(n_base * LOW_FRAC))
    picks = rng.permutation(n_base)[: n_exact + n_near]
    exact_src, near_src = picks[:n_exact], picks[n_exact:]

    rows: list[str] = list(texts)
    kinds: list[tuple[str, int]] = [("base", -1)] * n_base
    for s in exact_src:
        rows.append("  " + texts[s].upper().replace(" ", "   ") + " ")
        kinds.append(("exact", int(s)))
    for s in near_src:
        toks = texts[s].split(" ")
        j = int(rng.integers(1, len(toks) - 1))
        toks[j] = "zzq" + toks[j]  # never a vocabulary word
        rows.append(" ".join(toks))
        kinds.append(("near", int(s)))
    for _ in range(n_low):
        rows.append(" ".join(words(rng, 4)))
        kinds.append(("low", -1))

    # ids: a random increasing id per row, then rows assigned so that each
    # copy's id exceeds its base's (bases take the smallest ids)
    n = len(rows)
    ids = np.sort(rng.choice(np.arange(1, 50 * n), size=n, replace=False))
    base_ids = ids[:n_base]
    exact_pairs: list[tuple[int, int]] = []
    near_pairs: list[tuple[int, int]] = []
    low: set[int] = set()
    for pos in range(n_base, n):
        kind, src = kinds[pos]
        rid = int(ids[pos])
        if kind == "exact":
            exact_pairs.append((int(base_ids[src]), rid))
        elif kind == "near":
            near_pairs.append((int(base_ids[src]), rid))
        else:
            low.add(rid)

    order = rng.permutation(n)
    tbl = pa.table({
        "doc_id": pa.array([int(ids[i]) for i in order], pa.int64()),
        "text": pa.array([rows[i] for i in order], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    step = -(-n // n_files)
    for f in range(n_files):
        pq.write_table(tbl.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet"))
    raw = sum(len(t.encode("utf-8")) for t in rows)
    return DataprepBatch(
        path, n, raw, set(int(x) for x in base_ids), exact_pairs, near_pairs, low
    )
