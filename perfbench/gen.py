"""Seeded workload inputs, written straight to parquet with pyarrow.

The program under test only ever sees the parquet files. Everything here is
deterministic in ``seed``: the same seed always yields byte-identical tables.

- ``code_corpus``: families of near-duplicate source files (one entity = a
  base file plus edits: comment churn, block reorder, small insertions,
  identifier renames) spread over repos and commits, with the ground truth
  and the exhaustively labeled pairs within each blocking key.
- ``prep_corpus``: the code corpus mapped to ``(doc_id, text, lang, source)``
  plus a seeded eval sample, the input of ``jobs/corpus_prep_job``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["python", "java", "js", "go", "c"]
_EXT = {"python": "py", "java": "java", "js": "js", "go": "go", "c": "c"}
_KEYWORDS = {
    "python": ["def", "return", "for", "in", "if", "else", "import", "class", "with", "yield"],
    "java": ["public", "static", "void", "return", "for", "if", "else", "import", "class", "new"],
    "js": ["function", "return", "for", "if", "else", "const", "let", "class", "import", "export"],
    "go": ["func", "return", "for", "if", "else", "import", "type", "struct", "var", "range"],
    "c": ["int", "void", "return", "for", "if", "else", "include", "struct", "static", "char"],
}
_NOUNS = (
    "buffer index cursor record packet stream token batch shard queue cache merge split "
    "parse encode decode flush probe offset window frame chunk digest handle worker router "
    "ledger matrix vector column branch anchor bundle socket mapper folder"
).split()
_VERBS = (
    "load store scan emit pack unpack read write push pop open close lock free grow trim "
    "sync hash sort bind"
).split()
_COMMENT = (
    "handles the edge case where input is empty see issue for details note this assumes "
    "sorted order keep in sync with upstream legacy behavior todo cleanup fast path slow"
).split()


def _ident(rng: random.Random) -> str:
    return f"{rng.choice(_VERBS)}_{rng.choice(_NOUNS)}"


def _function(rng: random.Random, lang: str, name: str) -> list[str]:
    kw = _KEYWORDS[lang]
    lines = [f"{kw[0]} {name}({_ident(rng)}, {_ident(rng)}):"]
    for _ in range(rng.randint(3, 8)):
        a, b = _ident(rng), _ident(rng)
        lines.append(f"    {a} = {b} {rng.choice('+-*%|')} {rng.randint(0, 997)}")
        if rng.random() < 0.3:
            lines.append(f"    {rng.choice(kw[1:])} {a}")
    lines.append(f"    {kw[1]} {name}_{rng.randint(0, 99)}")
    return lines


def _variant(rng: random.Random, blocks: list[list[str]], lang: str) -> str:
    blocks = [list(b) for b in blocks]
    if rng.random() < 0.5 and len(blocks) > 1:
        rng.shuffle(blocks)
    marker = "#" if lang == "python" else "//"
    lines: list[str] = []
    for b in blocks:
        if rng.random() < 0.8:
            words = " ".join(rng.choice(_COMMENT) for _ in range(rng.randint(3, 8)))
            lines.append(f"{marker} {words}")
        lines.extend(b)
        lines.append("" if rng.random() < 0.7 else "    ")
    if rng.random() < 0.4:
        lines.extend(_function(rng, lang, _ident(rng))[:3])
    text = "\n".join(lines)
    if rng.random() < 0.35:
        for _ in range(rng.randint(1, 2)):
            old, new = rng.choice(_NOUNS), rng.choice(_NOUNS)
            if old != new:
                text = text.replace(old, new + "x")
    return text


def _mentions(rng: random.Random, cap: int = 8) -> int:
    r = rng.random()
    if r < 0.45:
        return rng.randint(1, 2)
    if r < 0.80:
        return rng.randint(2, 4)
    return rng.randint(4, cap)


def _unique_id(repo: str, path: str, commit: str) -> str:
    # the pipeline's derived id: sha256(repo 0x1f path 0x1f commit) hex
    return hashlib.sha256("\x1f".join((repo, path, commit)).encode()).hexdigest()


def code_corpus(seed: int, n_entities: int):
    """(repo_files, labeled_pairs) as pyarrow tables; ~2.9 files per entity.

    30% of the blocking keys are shared by three entities, so every key holds
    negative pairs as well as positive ones.
    """
    rng = random.Random(seed)
    n_shared = int(n_entities * 0.3 / 3)
    block_of: list[int] = []
    block = 0
    while len(block_of) < n_entities:
        block_of.extend([block] * (3 if block < n_shared else 1))
        block += 1
    repos = [f"org{i % 7}/proj{i:03d}" for i in range(25)]
    files: dict[str, list] = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    by_key: dict[str, list[tuple[str, int]]] = {}
    for entity in range(n_entities):
        lang = LANGS[block_of[entity] % len(LANGS)]
        blocks = [_function(rng, lang, _ident(rng)) for _ in range(rng.randint(4, 9))]
        stem = f"{_ident(rng)}_{entity:05d}"
        key = f"{lang}:blk_{block_of[entity]:05d}"
        for v in range(_mentions(rng)):
            repo = rng.choice(repos)
            sub = rng.choice(["src", "lib", "pkg", "internal", "core"])
            path = f"{sub}/{stem}{'' if v == 0 else f'_v{v}'}.{_EXT[lang]}"
            commit = hashlib.sha1(f"{seed}/{entity}/{v}".encode()).hexdigest()
            for k, val in zip(files, (repo, path, commit, lang, _variant(rng, blocks, lang))):
                files[k].append(val)
            by_key.setdefault(key, []).append((_unique_id(repo, path, commit), entity))
    pairs: dict[str, list] = {"unique_id_a": [], "unique_id_b": [], "label": []}
    for key in sorted(by_key):
        for (ua, ea), (ub, eb) in itertools.combinations(sorted(by_key[key]), 2):
            pairs["unique_id_a"].append(ua)
            pairs["unique_id_b"].append(ub)
            pairs["label"].append(ea == eb)
    return pa.table(files), pa.table(pairs)


def prep_corpus(repo_files: pa.Table, seed: int, eval_frac: float = 0.005):
    """(docs, eval_docs, budget_tokens) for the corpus-prep job.

    ``budget_tokens`` is half the mean per-source whitespace-token total, so
    the per-source sampling stage really drops documents.
    """
    text = repo_files.column("content").to_pylist()
    repos = repo_files.column("repo").to_pylist()
    sources = sorted(set(repos))
    docs = pa.table({
        "doc_id": pa.array(range(len(text)), pa.int64()),
        "text": text,
        "lang": repo_files.column("lang"),
        "source": repos,
    })
    rng = random.Random(seed ^ 0xE7A1)
    picks = sorted(rng.sample(range(len(text)), max(1, int(len(text) * eval_frac))))
    eval_docs = docs.take(picks)
    tokens = sum(len(t.split()) for t in text)
    return docs, eval_docs, tokens // len(sources) // 2


def write_once(out_dir: str, make) -> str:
    """Write the tables ``make()`` returns as ``<out_dir>/<name>.parquet``
    unless a previous run already completed ``out_dir``."""
    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out_dir, exist_ok=True)
        for name, table in make().items():
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        with open(done, "w") as f:
            f.write(dt.datetime.now(dt.timezone.utc).isoformat())
    return out_dir
