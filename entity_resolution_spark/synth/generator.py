"""Deterministic synthetic corpus of source-code files with construction-time ground truth.

Mirrors the reference's ``RandomDataProvider`` idea — synthesize labeled fake entities with
a skewed mention-count distribution and ground truth assigned by construction
(``am_combiner/utils/random_data.py:137-244``, distributions at
``am_combiner/utils/distributions.py:9-53``) — but for the code domain mandated by
BASELINE.json: each *entity* is a family of near-duplicate source files (a base file plus
systematic edits: comment/whitespace churn, statement reorder, small insertions, limited
identifier renames) spread across repos/commits.

Everything is seeded; the same (seed, n_entities) always yields byte-identical tables.
No external data, no randomness outside ``random.Random(seed)``.

Outputs three pandas-free, plain-Python row lists (convertible to Spark or Arrow):

- ``repo_files``:   (repo, path, commit, lang, content)      — the mandated input shape
- ``ground_truth``: (unique_id, blocking_key, ground_truth)  — FIXTURES.md §2
- ``labeled_pairs``:(blocking_key, unique_id_a, unique_id_b, label) — FIXTURES.md §3,
  exhaustive within each blocking key (the determinized version of the reference's sampled
  acceptance pairs, ``am_combiner/qa/acceptance_metrics.py:7-52``).

``unique_id`` here matches the pipeline's derived id:
``sha256(repo || '\\x1f' || path || '\\x1f' || commit)`` hex.
"""

from __future__ import annotations

import hashlib
import itertools
import random
from dataclasses import dataclass, field

LANGS = ["python", "java", "js", "go", "c"]

# Token pools for fake-but-plausible source text (per-language keyword flavor).
_KEYWORDS = {
    "python": ["def", "return", "for", "in", "if", "else", "import", "class", "with", "yield"],
    "java": ["public", "static", "void", "return", "for", "if", "else", "import", "class", "new"],
    "js": ["function", "return", "for", "if", "else", "const", "let", "class", "import", "export"],
    "go": ["func", "return", "for", "if", "else", "import", "type", "struct", "var", "range"],
    "c": ["int", "void", "return", "for", "if", "else", "include", "struct", "static", "char"],
}
_NOUNS = [
    "buffer", "index", "cursor", "record", "packet", "stream", "token", "batch", "shard",
    "queue", "cache", "merge", "split", "parse", "encode", "decode", "flush", "probe",
    "offset", "window", "frame", "chunk", "digest", "handle", "worker", "router", "ledger",
    "matrix", "vector", "column", "branch", "anchor", "bundle", "socket", "mapper", "folder",
]
_VERBS = [
    "load", "store", "scan", "emit", "pack", "unpack", "read", "write", "push", "pop",
    "open", "close", "lock", "free", "grow", "trim", "sync", "hash", "sort", "bind",
]
_COMMENT_WORDS = [
    "handles", "the", "edge", "case", "where", "input", "is", "empty", "see", "issue",
    "for", "details", "note", "this", "assumes", "sorted", "order", "keep", "in", "sync",
    "with", "upstream", "legacy", "behavior", "todo", "cleanup", "fast", "path", "slow",
]


@dataclass
class SynthConfig:
    seed: int = 42
    n_entities: int = 120
    max_variants: int = 8          # mention-count cap (reference histograms cap small)
    n_repos: int = 25
    langs: tuple[str, ...] = tuple(LANGS)
    # fraction of blocking keys that are shared by >1 entity (exercises over-combination
    # risk, mirroring random_data.py sampling several real names into one fake name)
    shared_block_fraction: float = 0.3
    entities_per_shared_block: int = 3
    # edit knobs
    rename_prob: float = 0.35      # chance a variant renames 1-2 identifiers
    reorder_prob: float = 0.5
    comment_churn_prob: float = 0.8
    insert_prob: float = 0.4
    base_functions: tuple[int, int] = (4, 9)   # functions per base file (min, max)
    lines_per_function: tuple[int, int] = (3, 8)
    extra: dict = field(default_factory=dict)


def _unique_id(repo: str, path: str, commit: str) -> str:
    return hashlib.sha256(("\x1f".join((repo, path, commit))).encode("utf-8")).hexdigest()


def _ident(rng: random.Random) -> str:
    return f"{rng.choice(_VERBS)}_{rng.choice(_NOUNS)}"


def _make_function(rng: random.Random, lang: str, name: str) -> list[str]:
    kw = _KEYWORDS[lang]
    n_lines = rng.randint(*(3, 8))
    lines = [f"{kw[0]} {name}({_ident(rng)}, {_ident(rng)}):"]
    for _ in range(n_lines):
        a, b = _ident(rng), _ident(rng)
        op = rng.choice(["+", "-", "*", "%", "|"])
        lines.append(f"    {a} = {b} {op} {rng.randint(0, 997)}")
        if rng.random() < 0.3:
            lines.append(f"    {rng.choice(kw[1:])} {a}")
    lines.append(f"    {kw[1]} {name}_{rng.randint(0, 99)}")
    return lines


def _make_base_file(rng: random.Random, lang: str, cfg: SynthConfig) -> list[list[str]]:
    """A base file is a list of function blocks (so variants can reorder them)."""
    n_funcs = rng.randint(*cfg.base_functions)
    return [_make_function(rng, lang, _ident(rng)) for _ in range(n_funcs)]


def _comment_line(rng: random.Random, lang: str) -> str:
    marker = "#" if lang == "python" else "//"
    words = " ".join(rng.choice(_COMMENT_WORDS) for _ in range(rng.randint(3, 8)))
    return f"{marker} {words}"


def _variant_text(rng: random.Random, blocks: list[list[str]], lang: str, cfg: SynthConfig) -> str:
    blocks = [list(b) for b in blocks]
    # function reorder — preserves token multiset, defeats positional hashing
    if rng.random() < cfg.reorder_prob and len(blocks) > 1:
        rng.shuffle(blocks)
    lines: list[str] = []
    for b in blocks:
        if rng.random() < cfg.comment_churn_prob:
            lines.append(_comment_line(rng, lang))
        lines.extend(b)
        # whitespace churn
        lines.append("" if rng.random() < 0.7 else "    ")
    # small insertions: an extra tiny function
    if rng.random() < cfg.insert_prob:
        lines.extend(_make_function(rng, lang, _ident(rng))[:3])
    text = "\n".join(lines)
    # limited identifier renames (consistent within the file)
    if rng.random() < cfg.rename_prob:
        for _ in range(rng.randint(1, 2)):
            old = rng.choice(_NOUNS)
            new = rng.choice(_NOUNS)
            if old != new:
                text = text.replace(old, new + "x")
    return text


def _mention_count(rng: random.Random, cap: int) -> int:
    """Skewed mention-count distribution, like the reference's name histograms:
    most entities have few records, a few have many."""
    r = rng.random()
    if r < 0.45:
        return rng.randint(1, 2)
    if r < 0.80:
        return rng.randint(2, 4)
    return rng.randint(4, cap)


def generate_corpus(cfg: SynthConfig | None = None):
    """Return (repo_files, ground_truth, labeled_pairs) as lists of dicts."""
    cfg = cfg or SynthConfig()
    rng = random.Random(cfg.seed)

    # --- blocking-key layout: some keys shared by several entities ------------
    n_shared_blocks = int(cfg.n_entities * cfg.shared_block_fraction / cfg.entities_per_shared_block)
    block_of_entity: dict[int, str] = {}
    eid = 0
    block_idx = 0
    while eid < cfg.n_entities:
        block_key = f"blk_{block_idx:05d}"
        if block_idx < n_shared_blocks:
            for _ in range(cfg.entities_per_shared_block):
                if eid < cfg.n_entities:
                    block_of_entity[eid] = block_key
                    eid += 1
        else:
            block_of_entity[eid] = block_key
            eid += 1
        block_idx += 1

    repos = [f"org{idx % 7}/proj{idx:03d}" for idx in range(cfg.n_repos)]
    repo_files: list[dict] = []
    ground_truth: list[dict] = []

    for entity in range(cfg.n_entities):
        # lang is a property of the blocking key (not the entity): entities sharing a
        # block share a lang, so cross-entity same-key NEGATIVE pairs exist — the
        # over-combination risk the reference builds into its fake names
        # (utils/random_data.py:207-238 samples several real names into one fake name)
        block_id = block_of_entity[entity]
        lang = cfg.langs[int(block_id.split("_")[1]) % len(cfg.langs)]
        ext = {"python": "py", "java": "java", "js": "js", "go": "go", "c": "c"}[lang]
        blocks = _make_base_file(rng, lang, cfg)
        stem = f"{_ident(rng)}_{entity:04d}"
        m = _mention_count(rng, cfg.max_variants)
        block_key = f"{lang}:{block_id}"
        for v in range(m):
            repo = rng.choice(repos)
            subdir = rng.choice(["src", "lib", "pkg", "internal", "core"])
            path = f"{subdir}/{stem}{'' if v == 0 else f'_v{v}'}.{ext}"
            commit = hashlib.sha1(f"{cfg.seed}/{entity}/{v}".encode()).hexdigest()
            content = _variant_text(rng, blocks, lang, cfg)
            uid = _unique_id(repo, path, commit)
            repo_files.append(
                {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}
            )
            ground_truth.append(
                {"unique_id": uid, "blocking_key": block_key, "ground_truth": entity}
            )

    # --- exhaustive labeled pairs within each blocking key ---------------------
    by_block: dict[str, list[dict]] = {}
    for gt in ground_truth:
        by_block.setdefault(gt["blocking_key"], []).append(gt)
    labeled_pairs: list[dict] = []
    for bk, rows in sorted(by_block.items()):
        rows = sorted(rows, key=lambda r: r["unique_id"])
        for a, b in itertools.combinations(rows, 2):
            labeled_pairs.append(
                {
                    "blocking_key": bk,
                    "unique_id_a": a["unique_id"],
                    "unique_id_b": b["unique_id"],
                    "label": a["ground_truth"] == b["ground_truth"],
                }
            )
    return repo_files, ground_truth, labeled_pairs


REPO_FILES_SCHEMA = "repo string, path string, commit string, lang string, content string"
GROUND_TRUTH_SCHEMA = "unique_id string, blocking_key string, ground_truth long"
LABELED_PAIRS_SCHEMA = "blocking_key string, unique_id_a string, unique_id_b string, label boolean"


def corpus_dataframes(spark, cfg: SynthConfig | None = None):
    """Materialize the corpus as three Spark DataFrames.

    Each frame is built from a ``pa.Table`` under its DDL schema, so every
    scan reads rows the JVM already holds instead of re-running a Python-RDD
    scan of pickled rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    def frame(rows, ddl):
        schema = DataType.fromDDL(ddl)
        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
        return spark.createDataFrame(table, schema=schema)

    repo_files, ground_truth, labeled_pairs = generate_corpus(cfg)
    return (
        frame(repo_files, REPO_FILES_SCHEMA),
        frame(ground_truth, GROUND_TRUTH_SCHEMA),
        frame(labeled_pairs, LABELED_PAIRS_SCHEMA),
    )
