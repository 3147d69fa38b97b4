"""Seeded `files` corpus and pure-Python triple oracle for the benchmark.

Everything here is a pure function of ``(seed, size)``: the same seed
gives byte-identical parquet and the same expected triples. Nothing
imports ``ner_spark`` or starts Spark, so an edit to the program's own
synthetic generator or default gazetteer cannot move the workload.

Corpus shape (the ``files`` table: repo, path, commit, lang, content):

* one mega-repo owns half the files (the skew a repo-keyed exchange
  must absorb); the rest spread over ``N_REPOS`` repos;
* python / java / go / text files, each with its own declaration style;
* file sizes spread log-normally, plus a ~0.5 % tail of 5-20 KB files,
  so per-row and per-byte costs both show;
* adversarial tokens: aliases glued to identifier characters
  (``torch_cfg``, ``3tf``), wrong case (``Torch``) and indented
  declarations, none of which may produce a triple.

Oracle semantics (the KG contract the job must meet):

* ``repo CONTAINS entity`` when an alias occurs in the file as a maximal
  ``[A-Za-z0-9_]+`` token;
* ``e1 COOCCURS e2`` for every pair of distinct entities in one file,
  ``e1 < e2``;
* ``repo/path DECLARES sym`` for every ``DECL_RE`` capture.

Output checks compare, per family, the distinct row count and an
order-insensitive hash (sum mod 2**64 of pandas' row hashes).
"""

from __future__ import annotations

import itertools
import json
import re
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

# (canonical entity, type, extra aliases). Every alias is an identifier,
# so the streaming kernel runs in its token mode.
_ENTITIES: list[tuple[str, str, list[str]]] = [
    ("tensorflow", "LIB", ["tf", "tflow"]),
    ("pytorch", "LIB", ["torch"]),
    ("numpy", "LIB", ["np"]),
    ("pandas", "LIB", ["pd"]),
    ("spark", "LIB", ["pyspark", "apache_spark"]),
    ("hadoop", "LIB", ["hdfs"]),
    ("kafka", "LIB", ["apache_kafka"]),
    ("flink", "LIB", []),
    ("arrow", "LIB", ["pyarrow"]),
    ("parquet", "FMT", ["apache_parquet"]),
    ("iceberg", "FMT", []),
    ("avro", "FMT", []),
    ("orc", "FMT", []),
    ("protobuf", "FMT", ["proto3"]),
    ("grpc", "LIB", []),
    ("redis", "DB", []),
    ("postgres", "DB", ["postgresql", "pgsql"]),
    ("mysql", "DB", ["mariadb"]),
    ("sqlite", "DB", ["sqlite3"]),
    ("cassandra", "DB", []),
    ("mongodb", "DB", ["mongo"]),
    ("duckdb", "DB", []),
    ("clickhouse", "DB", []),
    ("elasticsearch", "DB", ["opensearch"]),
    ("kubernetes", "TOOL", ["k8s"]),
    ("docker", "TOOL", []),
    ("terraform", "TOOL", []),
    ("airflow", "TOOL", []),
    ("sklearn", "LIB", ["scikit_learn"]),
    ("xgboost", "LIB", ["xgb"]),
    ("lightgbm", "LIB", ["lgbm"]),
    ("keras", "LIB", []),
    ("jax", "LIB", []),
    ("scipy", "LIB", []),
    ("matplotlib", "LIB", ["pyplot"]),
    ("graphql", "LANG", []),
    ("javascript", "LANG", ["ecmascript"]),
    ("typescript", "LANG", []),
    ("rustlang", "LANG", ["rust"]),
    ("golang", "LANG", []),
    ("cpython", "LANG", []),
    ("scala", "LANG", []),
    ("haskell", "LANG", ["ghc"]),
    ("kotlin", "LANG", []),
    ("zookeeper", "TOOL", ["zk"]),
]

GAZETTEER: list[tuple[str, str, str]] = [
    (alias, canonical, etype)
    for canonical, etype, extras in _ENTITIES
    for alias in [canonical, *extras]
]
_ALIAS2ENT = {a: e for a, e, _ in GAZETTEER}
_ALIASES = [a for a, _, _ in GAZETTEER]

# The declaration contract, held here so an edit to the program's copy
# shows up as a failed output check rather than a moved oracle.
DECL_RE = re.compile(r"^(?:def|class|func|void|public\s+\w+)\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
TOKEN_RE = re.compile(r"[A-Za-z0-9_]+")

FAMILIES = ("CONTAINS", "COOCCURS", "DECLARES")
MEGA_REPO = "repo_mega"
N_REPOS = 240
N_PARQUET_FILES = 16
_LANGS = np.array(["python", "java", "go", "text"])
_LANG_P = [0.5, 0.2, 0.15, 0.15]
_EXT = {"python": "py", "java": "java", "go": "go", "text": "md"}


def _filler(rng: np.random.Generator, n_lines: int) -> tuple[str, np.ndarray]:
    """A block of assignment lines plus line-start offsets, so any file's
    filler is one O(1) slice. Near-miss tokens live here."""
    near = [f"{a}_cfg" for a in _ALIASES[::3]] + [f"3{a}" for a in _ALIASES[1::4]]
    near += [a.capitalize() for a in _ALIASES[2::5]]
    lines = []
    for i in range(n_lines):
        v = int(rng.integers(0, 10**9))
        if i % 7 == 0:
            lines.append(f"    cfg_{i % 101} = {near[i % len(near)]}({v})\n")
        else:
            lines.append(f"VALUE_{i % 997} = {v}  # row {i}\n")
    text = "".join(lines)
    offs = np.zeros(n_lines + 1, dtype=np.int64)
    offs[1:] = np.cumsum([len(s) for s in lines])
    return text, offs


def _file_text(i: int, lang: str, aliases: list[str], n_decl: int, tag: str,
               filler: str) -> str:
    """Header + declarations for one file; `filler` is appended as is."""
    out: list[str] = []
    if lang == "python":
        out.append(f"# {tag} module {i}\n")
        out.extend(f"import {a}\n" for a in aliases[:2])
        out.extend(f"from {a} import run\n" for a in aliases[2:3])
        for j in range(n_decl):
            a = aliases[j % len(aliases)] if aliases else "os"
            out.append(f"def fn_{tag}_{i}_{j}(x):\n    return {a}.call(x)\n")
        out.append(f"class Cls_{tag}_{i}:\n    def method_{i}(self):\n        pass\n")
        out.extend(f"    backend = {a}\n" for a in aliases[3:])
    elif lang == "java":
        out.extend(f"import org.{a}.Client;\n" for a in aliases)
        out.append(f"public class J_{tag}_{i} {{\n")
        for j in range(n_decl):
            out.append(f"public static void jm_{tag}_{i}_{j}() {{ }}\n")
        out.append(f"    public int hidden_{i}() {{ return 0; }}\n}}\n")
    elif lang == "go":
        out.append(f"package p{i % 13}\n")
        out.extend(f'import "{a}"\n' for a in aliases)
        for j in range(n_decl):
            out.append(f"func gf_{tag}_{i}_{j}() {{}}\n")
    else:
        words = " and ".join(aliases) if aliases else "nothing"
        out.append(f"Notes {tag} {i}: this uses {words}.\n")
        out.append(f"You could def ine things here, class {i} is fine.\n")
    out.append(filler)
    return "".join(out)


def generate(seed: int, n_files: int, tag: str = "b",
             repos: list[str] | None = None) -> pa.Table:
    """Deterministic `files` table of `n_files` rows for `seed`.

    `repos` restricts the table to those repos (a snapshot drop);
    otherwise half the rows go to the mega-repo. `tag` makes paths and
    symbols of different tables distinct.
    """
    rng = np.random.default_rng([seed, GENERATOR_VERSION, sum(map(ord, tag))])
    filler, offs = _filler(rng, 6000)
    n_fill = len(offs) - 1
    if repos is None:
        mega = rng.random(n_files) < 0.5
        other = rng.zipf(1.3, n_files) % N_REPOS
        repo_col = np.where(mega, MEGA_REPO, np.char.add("repo_", other.astype(str)))
    else:
        repo_col = np.array(repos)[rng.integers(0, len(repos), n_files)]
    lang_col = rng.choice(_LANGS, n_files, p=_LANG_P)
    n_ents = rng.integers(0, 7, n_files)
    n_decl = rng.integers(0, 5, n_files)
    fill_lines = np.minimum(rng.lognormal(1.8, 0.8, n_files).astype(np.int64), n_fill - 1)
    big = rng.random(n_files) < 0.005
    fill_lines[big] = rng.integers(150, 600, int(big.sum()))
    fill_start = rng.integers(0, n_fill, n_files)
    alias_idx = rng.integers(0, len(_ALIASES), (n_files, 6))

    paths, contents, commits = [], [], []
    for i in range(n_files):
        lang = str(lang_col[i])
        a0 = int(fill_start[i])
        a1 = min(a0 + int(fill_lines[i]), n_fill)
        aliases = list(dict.fromkeys(_ALIASES[k] for k in alias_idx[i, : n_ents[i]]))
        contents.append(_file_text(i, lang, aliases, int(n_decl[i]), tag,
                                   filler[offs[a0]:offs[a1]]))
        paths.append(f"src/m{i % 64}/{tag}{i}.{_EXT[lang]}")
        commits.append(f"{seed:08x}{tag}{i:x}")
    return pa.table({
        "repo": pa.array(repo_col.astype(str).tolist(), pa.string()),
        "path": pa.array(paths, pa.string()),
        "commit": pa.array(commits, pa.string()),
        "lang": pa.array(lang_col.astype(str).tolist(), pa.string()),
        "content": pa.array(contents, pa.string()),
    })


def write_table(table: pa.Table, out_dir: Path, n_parts: int = N_PARQUET_FILES) -> None:
    """Write `table` as `n_parts` parquet files (one scan task each)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // n_parts)
    for k in range(n_parts):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, out_dir / f"part-{k:05d}.parquet")


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------

def oracle_triples(table: pa.Table) -> dict[str, pd.DataFrame]:
    """Expected distinct (subj, obj) per family, computed from content."""
    contains: set[tuple[str, str]] = set()
    cooccurs: set[tuple[str, str]] = set()
    decl_subj: list[str] = []
    decl_obj: list[str] = []
    cols = table.to_pydict()
    for repo, path, text in zip(cols["repo"], cols["path"], cols["content"]):
        ents = sorted({_ALIAS2ENT[t] for t in set(TOKEN_RE.findall(text)) if t in _ALIAS2ENT})
        contains.update((repo, e) for e in ents)
        cooccurs.update(itertools.combinations(ents, 2))
        key = f"{repo}/{path}"
        for sym in {m.group(1) for m in DECL_RE.finditer(text)}:
            decl_subj.append(key)
            decl_obj.append(sym)
    frames = {
        "CONTAINS": pd.DataFrame(sorted(contains), columns=["subj", "obj"]),
        "COOCCURS": pd.DataFrame(sorted(cooccurs), columns=["subj", "obj"]),
        "DECLARES": pd.DataFrame({"subj": decl_subj, "obj": decl_obj}),
    }
    frames["DECLARES"] = frames["DECLARES"].drop_duplicates(ignore_index=True)
    return frames


def union_triples(a: dict[str, pd.DataFrame], b: dict[str, pd.DataFrame]) -> dict[str, pd.DataFrame]:
    return {
        f: pd.concat([a[f], b[f]], ignore_index=True).drop_duplicates(ignore_index=True)
        for f in FAMILIES
    }


def frame_hash(df: pd.DataFrame) -> int:
    """Order-insensitive, multiplicity-sensitive hash of (subj, obj) rows."""
    if df.empty:
        return 0
    h = pd.util.hash_pandas_object(df[["subj", "obj"]], index=False).to_numpy(np.uint64)
    return int(h.sum(dtype=np.uint64))


def summarize(frames: dict[str, pd.DataFrame]) -> dict[str, dict[str, int]]:
    """Per family: distinct row count and order-insensitive hash."""
    return {f: {"rows": int(len(frames[f])), "hash": frame_hash(frames[f])} for f in FAMILIES}


def summarize_output(df: pd.DataFrame) -> dict[str, dict[str, int]]:
    """`summarize` for a (subj, pred, obj) frame read back from the job."""
    frames = {f: df.loc[df["pred"] == f, ["subj", "obj"]].reset_index(drop=True) for f in FAMILIES}
    extra = set(df["pred"].unique()) - set(FAMILIES)
    out = summarize(frames)
    if extra:
        out["unexpected_preds"] = {"rows": int(df["pred"].isin(extra).sum()), "hash": 0}
    return out


def cached_json(path: Path, build) -> dict:
    """Return the JSON at `path`, building and writing it first if absent."""
    if path.exists():
        return json.loads(path.read_text())
    value = build()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(value, sort_keys=True))
    tmp.rename(path)
    return value
