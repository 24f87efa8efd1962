"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(size, seed)``: the same seed gives
byte-identical inputs, and the program under test sees only the written
tables.  Corpora and small tables are built on the driver and written
with pyarrow (no Spark jobs); the codegraph triple table is generated
engine-side and written by Spark.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- build
BUILD_FILES = 1_000
BUILD_PARTS = 4  # parquet files, as a 4-task Spark write of synth_files_df leaves


def write_build_corpus(out_dir: str, seed: int, n: int, n_open: int) -> pd.DataFrame:
    """The ``build`` corpus: the rows of ``synth.synth_files_df(n, seed)``
    (the pipeline's own closed-vocabulary corpus; row ``i`` is a pure
    function of ``(i, seed)``) written as ``BUILD_PARTS`` parquet files,
    plus ``openvocab_files_pdf(seed, n_open)`` as one more.  Built on the
    driver, where the twin oracle needs the rows anyway."""
    from kgforge import synth

    pdf = synth.synth_files_pdf(n, seed=seed)
    for k, rows in enumerate(np.array_split(np.arange(n), BUILD_PARTS)):
        write_parquet(pdf.iloc[rows], os.path.join(out_dir, f"part-{k}.parquet"))
    open_pdf = openvocab_files_pdf(seed, n_open)
    write_parquet(open_pdf, os.path.join(out_dir, f"part-{BUILD_PARTS}.parquet"))
    return pd.concat([pdf, open_pdf], ignore_index=True)


# -------------------------------------------------------- open vocabulary
OPENVOCAB_FILES = 150
_SYLLABLES = (
    "ka lo mi ru te zo pa ne vi sho gra bel dun fex qua tor lin mar sef "
    "hob jix wen cru dal pim rok sut yel nor bav"
).split()
_VARIANTS = ("", "_v2", "_impl")
_MODULES = ("os", "sys", "json", "re", "math", "io", "time", "typing")


def _open_names(rs: np.random.RandomState, n: int, camel: bool) -> list[str]:
    """``n`` distinct two-part names drawn from the syllable table."""
    seen: dict[str, None] = {}
    while len(seen) < n:
        a, b, c, d = rs.randint(len(_SYLLABLES), size=4)
        s = _SYLLABLES
        name = (
            f"{s[a].title()}{s[b]}{s[c].title()}{s[d]}" if camel else f"{s[a]}{s[b]}_{s[c]}{s[d]}"
        )
        seen.setdefault(name)
    return list(seen)


def openvocab_files_pdf(seed: int, n: int = OPENVOCAB_FILES) -> pd.DataFrame:
    """Small python files whose function/class names come from a vocabulary
    that grows with the corpus (one function base per file, one class per
    eight files), each base in up to three naming variants."""
    rs = np.random.RandomState(seed & 0x7FFFFFFF)
    bases = _open_names(rs, n, camel=False)
    classes = _open_names(rs, max(1, n // 8), camel=True)
    rows = []
    for i in range(n):
        repo = f"org{i % 3}/repo{rs.randint(12)}"
        lines = [f"import {m}" for m in sorted(rs.choice(_MODULES, size=2, replace=False))]
        lines.append("")
        if rs.rand() < 0.5:
            lines.append(f"class {classes[rs.randint(len(classes))]}{_VARIANTS[rs.randint(3)]}:")
            lines.append("    pass")
            lines.append("")
        for _ in range(rs.randint(2, 4)):
            name = bases[rs.randint(n)] + _VARIANTS[rs.randint(3)]
            lines.append(f"def {name}(x):")
            for c in range(rs.randint(1, 4)):
                callee = bases[min(int(rs.zipf(1.4)) - 1, n - 1)] + _VARIANTS[rs.randint(3)]
                lines.append(f"    y{c} = {callee}(x)")
            lines.append("    return x")
            lines.append("")
        commit = hashlib.sha1(repo.encode()).hexdigest()
        rows.append((repo, f"src/m{i // 100}/mod_{i}.py", commit, "python", "\n".join(lines)))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


# ------------------------------------------------------------ codegraph
CONSUME_FILES = 200
N_DEFINES, N_CALLS, N_IMPORTS = 8, 12, 3
EXT_MODULE_POOL = 200
ZIPF_GAMMA = 4  # s = floor(V * u^gamma): call density ~ s^(1/gamma - 1)


def codegraph_triples(spark, files: int, seed: int):
    """Engine-side KG triple table with a vocabulary of 2 x files symbols,
    power-law call popularity, ~uniform defines and half-external imports.
    Every hash is salted with the seed; rows are deduplicated per
    (subj, pred, obj) like the pipeline's own triples."""
    from pyspark.sql import functions as F

    V = 2 * files
    salt = F.lit(int(seed))
    base = spark.range(files).select(F.col("id").alias("i"))
    subj = F.format_string(
        "org%d/repo%d:src/f_%d.py",
        (F.col("i") % 4).cast("int"),
        F.pmod(F.xxhash64(F.col("i"), F.lit(7), salt), F.lit(50)).cast("int"),
        F.col("i").cast("int"),
    )

    def h(*cols):
        return F.xxhash64(*cols, salt)

    def fn(sym):
        return F.format_string("function:f%d", sym.cast("long"))

    def per_file(pred, k, make):
        return base.select(
            subj.alias("subj"),
            F.lit(pred).alias("pred"),
            F.explode(F.transform(F.sequence(F.lit(0), F.lit(k - 1)), make)).alias("obj"),
        )

    def mod(j, k, m):  # pmod(hash(i, j, k), m): the k-th hash of slot j
        return F.pmod(h(F.col("i"), j, F.lit(k)), F.lit(m))

    def unit(j):  # u in [0, 1) from a 52-bit hash window
        return mod(j, 2, 2**52) / F.lit(float(2**52))

    defines = per_file(
        "defines",
        N_DEFINES,
        lambda j: fn(F.pmod(h(F.col("i") * N_DEFINES + j, F.lit(1)), F.lit(V))),
    )
    calls = per_file(
        "calls",
        N_CALLS,
        lambda j: fn(F.floor(F.lit(float(V)) * F.pow(unit(j), F.lit(ZIPF_GAMMA)))),
    )
    imports = per_file(
        "imports",
        N_IMPORTS,
        lambda j: F.when(
            mod(j, 3, 2) == 0,
            F.format_string("module:m%d", mod(j, 4, EXT_MODULE_POOL).cast("long")),
        ).otherwise(F.format_string("module:f_%d", mod(j, 5, files).cast("long"))),
    )
    return (
        defines.unionByName(calls)
        .unionByName(imports)
        .dropDuplicates(["subj", "pred", "obj"])
        .select("subj", "pred", "obj", F.lit(1).alias("line"), F.lit(1.0).alias("score"))
    )


# ------------------------------------------------------------ query mix
QM_DOCS = 600
_FILLER = (
    "row batch column customer small slow vector line table data value key "
    "a part group big query fast the order"
).split()


def _query_mix_tables(seed: int) -> dict[str, pd.DataFrame]:
    from kgforge import constants

    rs = np.random.RandomState((seed * 7919 + 17) & 0x7FFFFFFF)
    vocab = list(constants.DOC_CONCEPTS) + _FILLER
    texts: list[str] = []
    for d in range(QM_DOCS):
        if d % 20 == 19:
            # near-duplicate of an earlier document: one word swapped, one
            # appended (the shape the near-dup queries exist to find)
            words = texts[rs.randint(d)].split()
            words[rs.randint(len(words))] = vocab[rs.randint(len(vocab))]
            words.append("dup")
        else:
            words = [vocab[k] for k in rs.randint(len(vocab), size=rs.randint(10, 90))]
        texts.append(" ".join(words))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(QM_DOCS, dtype=np.int64),
            "text": texts,
            "lang": [("en", "en", "en", "fr", "de")[k] for k in rs.randint(5, size=QM_DOCS)],
            "source": [f"src{d % 20}" for d in range(QM_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return {"documents": documents}


def write_query_mix_tables(sf_dir: str, seed: int) -> dict[str, int]:
    """Write ``<sf_dir>/<table>.parquet`` for the tables the query mix reads;
    returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    sizes = {}
    for name, pdf in _query_mix_tables(seed).items():
        write_parquet(pdf, os.path.join(sf_dir, f"{name}.parquet"))
        sizes[name] = len(pdf)
    return sizes


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
