"""Deterministic synthetic source-code corpus with planted duplicate clusters.

Produces the exact input shape from BASELINE.json's ``input_hint``:
``code_files(repo: string, path: string, commit: string, lang: string,
content: string)`` plus the derived ``doc_id = sha256(repo‖\\x00‖path‖\\x00‖commit)``.

Ground truth is known by construction (FIXTURES.md §1): each planted cluster
records its member doc_ids and variant kinds.  Acceptance, however, is always
measured against the *oracle* (exact Jaccard ≥ threshold + connected
components) — the planted structure just guarantees the corpus contains
interesting cases on both sides of the threshold:

* exact duplicates (byte-identical under different repo/path)
* whitespace/comment variants (match after comment stripping + ws collapse)
* identifier renames (a few tokens substituted — high but <1 Jaccard)
* near-misses (~50% shared lines — must NOT match at 0.7)
* exact substring (file A embedded verbatim in file B)
* one big planted cluster (hot-bucket / quadratic-pair guard)
* unrelated singletons (~60%)

Everything derives from ``random.Random(seed)`` — platform-independent,
reproducible, no external data.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

LANGS = ["python", "go", "java", "js", "c"]
# skewed language distribution (exercises salting/skew paths)
LANG_WEIGHTS = [0.55, 0.2, 0.12, 0.08, 0.05]

_KEYWORDS = {
    "python": ["def", "return", "if", "else", "for", "in", "import", "class", "while"],
    "go": ["func", "return", "if", "else", "for", "range", "package", "type", "var"],
    "java": ["public", "static", "void", "return", "if", "else", "for", "class", "new"],
    "js": ["function", "return", "if", "else", "for", "const", "let", "var", "class"],
    "c": ["int", "void", "return", "if", "else", "for", "while", "struct", "static"],
}


def doc_id_of(repo: str, path: str, commit: str) -> str:
    return hashlib.sha256(f"{repo}\x00{path}\x00{commit}".encode()).hexdigest()


@dataclass
class SynthCorpus:
    rows: list[dict] = field(default_factory=list)          # repo,path,commit,lang,content
    planted_pairs: list[dict] = field(default_factory=list)  # src_id,dst_id,kind
    planted_clusters: dict[str, list[str]] = field(default_factory=dict)  # name -> ids


class _Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.counter = 0

    def ident(self) -> str:
        self.counter += 1
        return f"{self.rng.choice(['val', 'tmp', 'acc', 'buf', 'idx', 'node', 'item'])}_{self.rng.randrange(1000)}"

    def commit(self) -> str:
        return "".join(self.rng.choice("0123456789abcdef") for _ in range(40))

    def line(self, lang: str, idents: list[str]) -> str:
        kw = self.rng.choice(_KEYWORDS[lang])
        a, b, c = (self.rng.choice(idents) for _ in range(3))
        templates = [
            f"{kw} {a}({b}, {c}):",
            f"    {a} = {b} + {c} * {self.rng.randrange(100)}",
            f"    {a} = {b}[{c}]",
            f"    if {a} > {self.rng.randrange(50)}: {b} = {c}",
            f"    {kw} {a}",
            f"    {a}.append({b}({c}))",
        ]
        return self.rng.choice(templates)

    def base_file(self, lang: str, n_lines: int) -> str:
        idents = [self.ident() for _ in range(max(4, n_lines // 4))]
        lines = []
        for i in range(n_lines):
            if self.rng.random() < 0.12:
                lines.append(f"# note {self.rng.randrange(10_000)} about {self.rng.choice(idents)}")
            lines.append(self.line(lang, idents))
        return "\n".join(lines)


def _ws_comment_variant(g: _Gen, content: str) -> str:
    """Reformat + comment churn: identical token stream after comment strip."""
    out = []
    for ln in content.split("\n"):
        if ln.lstrip().startswith("#"):
            if g.rng.random() < 0.5:
                continue  # drop comment
            out.append(ln)
        else:
            indent = " " * g.rng.choice([0, 2, 4, 8])
            out.append(indent + ln.strip() + ("  " if g.rng.random() < 0.3 else ""))
        if g.rng.random() < 0.1:
            out.append(f"# inserted remark {g.rng.randrange(10_000)}")
        if g.rng.random() < 0.15:
            out.append("")
    return "\n".join(out)


def _rename_variant(g: _Gen, content: str) -> str:
    """Consistently rename 1-2 identifiers — high-but-<1 Jaccard."""
    toks = {t for ln in content.split("\n") for t in ln.replace("(", " ").replace(")", " ").split()
            if "_" in t and not t.startswith("#")}
    toks = sorted(toks)
    if not toks:
        return content + "\n# renamed"
    n = min(len(toks), g.rng.choice([1, 2]))
    victims = g.rng.sample(toks, n)
    out = content
    for v in victims:
        out = out.replace(v, f"renamed_{g.rng.randrange(10_000)}")
    return out


def _near_miss_variant(g: _Gen, content: str, lang: str) -> str:
    """Replace ~half the lines — must stay below a 0.7 threshold."""
    lines = content.split("\n")
    idents = [g.ident() for _ in range(6)]
    for i in range(len(lines)):
        if g.rng.random() < 0.55:
            lines[i] = g.line(lang, idents)
    return "\n".join(lines)


def generate(n_files: int = 200, seed: int = 42,
             big_cluster_size: int | None = None) -> SynthCorpus:
    """Deterministic corpus of ~n_files rows.  ~40% of files belong to a
    planted cluster; one big cluster of ``big_cluster_size`` (default: 50 when
    n_files >= 500, else n_files//10+2) exercises the hot-bucket guard."""
    g = _Gen(seed)
    corpus = SynthCorpus()
    if big_cluster_size is None:
        big_cluster_size = 50 if n_files >= 500 else max(3, n_files // 10)

    def add(repo: str, path: str, lang: str, content: str) -> str:
        commit = g.commit()
        corpus.rows.append(dict(repo=repo, path=path, commit=commit, lang=lang,
                                content=content))
        return doc_id_of(repo, path, commit)

    def rand_lang() -> str:
        return g.rng.choices(LANGS, LANG_WEIGHTS)[0]

    file_no = 0

    def next_loc(lang: str) -> tuple[str, str]:
        nonlocal file_no
        file_no += 1
        repo = f"org{g.rng.randrange(max(2, n_files // 40))}/repo{g.rng.randrange(5)}"
        ext = dict(python="py", go="go", java="java", js="js", c="c")[lang]
        return repo, f"src/pkg{g.rng.randrange(8)}/mod{file_no}.{ext}"

    budget = n_files

    # --- the one big cluster (ws/comment variants of one base) -----------
    lang = "python"
    base = g.base_file(lang, 40)
    members = []
    for i in range(min(big_cluster_size, budget)):
        repo, path = next_loc(lang)
        content = base if i == 0 else _ws_comment_variant(g, base)
        members.append(add(repo, path, lang, content))
        budget -= 1
    corpus.planted_clusters["big"] = members
    for m in members[1:]:
        corpus.planted_pairs.append(dict(src_id=min(members[0], m),
                                         dst_id=max(members[0], m), kind="ws_comment"))

    # --- small clusters of each kind --------------------------------------
    kinds = ["exact", "ws_comment", "rename", "substring", "near_miss"]
    ki = 0
    cluster_no = 0
    while budget > max(1, int(n_files * 0.55)):
        kind = kinds[ki % len(kinds)]
        ki += 1
        lang = rand_lang()
        size = g.rng.choice([2, 2, 3, 4])
        base = g.base_file(lang, g.rng.randrange(15, 60))
        ids = []
        for i in range(min(size, budget)):
            repo, path = next_loc(lang)
            if i == 0:
                content = base
            elif kind == "exact":
                content = base
            elif kind == "ws_comment":
                content = _ws_comment_variant(g, base)
            elif kind == "rename":
                content = _rename_variant(g, base)
            elif kind == "near_miss":
                content = _near_miss_variant(g, base, lang)
            elif kind == "substring":
                extra = g.base_file(lang, g.rng.randrange(10, 30))
                content = base + "\n" + extra
            ids.append(add(repo, path, lang, content))
            budget -= 1
        cluster_no += 1
        corpus.planted_clusters[f"{kind}_{cluster_no}"] = ids
        for m in ids[1:]:
            corpus.planted_pairs.append(dict(src_id=min(ids[0], m),
                                             dst_id=max(ids[0], m), kind=kind))

    # --- unrelated singletons ---------------------------------------------
    while budget > 0:
        lang = rand_lang()
        repo, path = next_loc(lang)
        # long tail of big files for skew (FIXTURES: a few ~500KB analogs)
        n_lines = 2000 if g.rng.random() < 0.01 else g.rng.randrange(8, 80)
        add(repo, path, lang, g.base_file(lang, n_lines))
        budget -= 1

    return corpus


def to_parquet(corpus: SynthCorpus, path: str) -> None:
    """Write the corpus (with precomputed doc_id) as one parquet file via
    pyarrow — no Spark session needed (bench pre-materializes the input so
    the timed pipeline run reads a table, as production would)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {k: [r[k] for r in corpus.rows] for k in
            ("repo", "path", "commit", "lang", "content")}
    cols["doc_id"] = [doc_id_of(r["repo"], r["path"], r["commit"])
                      for r in corpus.rows]
    # small row groups: Spark can only parallelize a parquet scan at
    # row-group granularity — pyarrow's default (one giant group) would make
    # the ingest scan + sha projection a single task at any core count
    pq.write_table(pa.table(cols), path, row_group_size=4096)


def to_spark_df(spark, corpus: SynthCorpus):
    import pyarrow as pa
    from pyspark.sql import functions as F

    cols = ("repo", "path", "commit", "lang", "content")
    df = spark.createDataFrame(
        pa.table({k: [r[k] for r in corpus.rows] for k in cols}),
        ", ".join(f"{k} string" for k in cols),
    )
    return df.withColumn(
        "doc_id",
        F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256),
    )
