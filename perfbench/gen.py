"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(workload, seed, size)``: the same
seed always writes the same bytes, so two commits measured with one
seed see identical inputs.  The program under test only ever receives
the generated files.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Reference tokenizer (mapper.go:181 splits on every rune that is not
# ``unicode.IsLetter``).  ``[^\W\d_]`` is "alphanumeric minus digits
# minus underscore"; it equals ``str.isalpha`` on every character the
# generator below emits, which ``_check_alphabet`` asserts.
LETTER_RUN = re.compile(r"[^\W\d_]+")

# Word pieces for the reference corpus: ASCII plus Latin-1/Latin
# Extended, Greek and Cyrillic letters, so case folding and Unicode
# letter classes both matter to the output.
_SYLLABLES = (
    "ka ri mo ne la tu vi so da pe ge ho ju xe zo be ci fu "
    "ström über fjä ñan çoi øre åse éta ßel čes łod "
    "λόγ ος κα μη νεφ мир дом ле жи ст"
).split()
# Separators are runs of non-letters: spaces, punctuation, digits,
# underscores and apostrophes all split tokens in the reference.
_SEPARATORS = (" ", " ", " ", " ", " ", ", ", ". ", "\n", " — ", " 1984 ",
               "'", "_", " (", ") ", "; ", " 7-")


def _check_alphabet() -> None:
    letters = set("".join(_SYLLABLES)) | set("".join(_SYLLABLES).upper())
    for ch in letters:
        if not (ch.isalpha() and LETTER_RUN.fullmatch(ch)):
            raise ValueError(f"generator letter {ch!r} is not a letter")
    for ch in set("".join(_SEPARATORS)):
        if ch.isalpha() or LETTER_RUN.fullmatch(ch):
            raise ValueError(f"generator separator {ch!r} is a letter")


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = int(rng.integers(1, 4))
        w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def text_corpus(out_dir: str, seed: int, n_files: int, file_bytes: int) -> int:
    """Write ``n_files`` UTF-8 text files of about ``file_bytes`` each:
    Zipf-distributed words with mixed case and non-ASCII letters.
    Returns the total bytes written."""
    _check_alphabet()
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(_vocabulary(rng, 20_000), dtype=object)
    # Case variants of the same word are distinct tokens in the
    # reference (wcMap never lowercases).
    variants = [vocab, np.array([w.capitalize() for w in vocab], dtype=object),
                np.array([w.upper() for w in vocab], dtype=object)]
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    pmf = 1.0 / (ranks + 2.7)
    pmf /= pmf.sum()
    seps = np.array(_SEPARATORS, dtype=object)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for f in range(n_files):
        # ~10 UTF-8 bytes per token+separator at this vocabulary.
        n = file_bytes // 10
        idx = rng.choice(len(vocab), size=n, p=pmf)
        case = rng.choice(3, size=n, p=[0.8, 0.15, 0.05])
        words = np.where(case == 0, variants[0][idx],
                         np.where(case == 1, variants[1][idx], variants[2][idx]))
        sep = seps[rng.integers(0, len(seps), size=n)]
        body = "".join((words + sep).tolist()).encode("utf-8")
        with open(os.path.join(out_dir, f"book{f:03d}.txt"), "wb") as fh:
            fh.write(body)
        total += len(body)
    return total


# Same word soup as the fixture ``documents`` table (FIXTURES.md).
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "en", "en", "zh", "de", "fr", "es")


def documents(path: str, seed: int, n_docs: int, dup_share: float = 0.05) -> int:
    """Write a ``documents`` parquet with the fixture's schema
    (doc_id, text, lang, source, n_chars).  ``dup_share`` of the rows
    are near-duplicates of an earlier row with one or two ``dup``
    tokens appended, as in the fixtures.  Returns the file size."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_share:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(_DOC_WORDS[int(j)]
                                  for j in rng.integers(0, len(_DOC_WORDS), n)))
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[int(j)] for j in rng.integers(0, len(_LANGS), n_docs)],
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # One row group, like the fixtures.
    pq.write_table(tbl, path, row_group_size=max(n_docs, 1))
    return os.path.getsize(path)
