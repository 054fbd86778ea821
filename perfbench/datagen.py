"""Seeded inputs for the benchmark, and their expected outputs.

Every value is a function of (row id, seed) built from column
expressions over ``spark.range``, so generation is distributed and the
same seed gives the same table.  The hash mixing the seed in is plain
integer arithmetic that numpy reproduces exactly, so every expected
count (violations by field and code, per-lang summaries, check values,
orphans, per-repo counts) is computed on the driver from the seed
alone, never by Spark.

Shape follows ``schema_validator_spark.sources.datagen.code_files``:
the five planted violation residues (mod 1000), the 20% mega-repo and
the repos dimension that drops repo ids = 42 (mod 100).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schema_validator_spark.sources.datagen import (
    BAD_COMMIT_CASE,
    BAD_COMMIT_SHORT,
    BAD_CONTENT,
    BAD_LANG,
    BAD_PATH,
    LANGS,
    MISSING_REPO_RESIDUE,
)

MEGA_REPO = "bigorg/monorepo"
N_REPOS = 200
_P = 2147483647  # 2^31 - 1: every intermediate stays inside a signed long
_A = 2654435761
_B = 1103515245

# Planted invalid addresses (residue of id mod 100) for the Arrow tier.
ADDRESS_SPEC = {
    "email": "required|email",
    "ip": "ip",
    "cidr": "cidr",
    "addr": "tcp_addr",
}
BAD_ADDRESS = {("email", "email"): 3, ("ip", "ip"): 5,
               ("cidr", "cidr"): 7, ("addr", "tcp_addr"): 11}


def _salt(seed: int, k: int) -> int:
    return (seed * 1000003 + k * 7919) % _P


def _hash_col(i, seed: int, k: int):
    """Two rounds of multiply-add mod 2^31-1 over the row id."""
    x = F.pmod(i * F.lit(_A) + F.lit(_salt(seed, k)), F.lit(_P))
    return F.pmod(x * F.lit(_B) + F.lit(_salt(seed, k + 1)), F.lit(_P))


def _hash_np(ids: np.ndarray, seed: int, k: int) -> np.ndarray:
    x = (ids * _A + _salt(seed, k)) % _P
    return (x * _B + _salt(seed, k + 1)) % _P


# ------------------------------------------------------------------ code_files

def code_files(spark: SparkSession, n_rows: int, seed: int) -> DataFrame:
    i = F.col("id")
    r = i % 1000
    repo_idx = _hash_col(i, seed, 1) % N_REPOS
    repo = F.when(i % 5 == 0, F.lit(MEGA_REPO)).otherwise(F.concat(
        F.lit("org_"), (repo_idx % 40).cast("string"),
        F.lit("/repo_"), repo_idx.cast("string"),
    ))
    ext = F.element_at(F.array(*[F.lit(x) for x in LANGS]), (i % 7 + 1).cast("int"))
    path = F.concat(
        F.lit("src/pkg_"), (i % 50).cast("string"),
        F.lit("/file_"), i.cast("string"), F.lit("."), ext,
    )
    path = F.when(r == BAD_PATH, F.concat(F.lit("/"), path)).otherwise(path)
    commit_full = F.substring(
        F.sha2(F.concat(i.cast("string"), F.lit(f":{seed}")), 256), 1, 40)
    commit = (
        F.when(r == BAD_COMMIT_CASE, F.upper(commit_full))
        .when(r == BAD_COMMIT_SHORT, F.substring(commit_full, 1, 12))
        .otherwise(commit_full)
    )
    lang = F.when(r == BAD_LANG, F.lit("cobol")).otherwise(ext)
    token = F.substring(
        F.sha2(F.concat(i.cast("string"), F.lit(f"c{seed}")), 256), 1, 8)
    content = F.concat(
        F.lit("package pkg_"), (i % 50).cast("string"), F.lit("\n\nfunc f_"),
        i.cast("string"), F.lit("() string {\n\treturn \""),
        F.repeat(token, ((i % 13) + 1).cast("int")), F.lit("\"\n}\n"),
    )
    content = F.when(r == BAD_CONTENT, F.lit("")).otherwise(content)
    return spark.range(n_rows).select(
        repo.alias("repo"), path.alias("path"), commit.alias("commit"),
        lang.alias("lang"), content.alias("content"),
    )


def repos_dim(spark: SparkSession) -> DataFrame:
    """All repo ids except those = MISSING_REPO_RESIDUE (mod 100), plus
    the mega-repo: the orphans of ``code_files`` are exactly the rows
    of the dropped repos."""
    base = spark.range(N_REPOS).filter(
        F.col("id") % 100 != MISSING_REPO_RESIDUE
    ).select(F.concat(
        F.lit("org_"), (F.col("id") % 40).cast("string"),
        F.lit("/repo_"), F.col("id").cast("string"),
    ).alias("repo"))
    return base.unionByName(spark.createDataFrame([(MEGA_REPO,)], "repo string"))


def _repo_name(ridx: int) -> str:
    return f"org_{ridx % 40}/repo_{ridx}"


def _commit_of(i: int, seed: int) -> str:
    full = hashlib.sha256(f"{i}:{seed}".encode()).hexdigest()[:40]
    r = i % 1000
    if r == BAD_COMMIT_CASE:
        return full.upper()
    if r == BAD_COMMIT_SHORT:
        return full[:12]
    return full


def _digits(x: np.ndarray) -> np.ndarray:
    """Decimal digits of each non-negative integer."""
    return np.floor(np.log10(np.maximum(x, 1))).astype(np.int64) + 1


class CodeFilesExpectation:
    """Exact outputs for ``code_files(n_rows, seed)`` under
    ``FULL_SUITE_SPEC`` and the table checks, from numpy alone."""

    # planted residue -> (field, code) it violates
    PLANTED = {
        BAD_COMMIT_CASE: ("commit", "lowercase"),
        BAD_COMMIT_SHORT: ("commit", "len"),
        BAD_LANG: ("lang", "oneof"),
        BAD_CONTENT: ("content", "required"),
        BAD_PATH: ("path", "startsnotwith"),
    }

    def __init__(self, n_rows: int, seed: int) -> None:
        self.n_rows = n_rows
        self.seed = seed
        ids = np.arange(n_rows, dtype=np.int64)
        r = ids % 1000
        ridx = _hash_np(ids, seed, 1) % N_REPOS
        mega = ids % 5 == 0
        self._ridx = ridx
        self._mega = mega

        # per-(field, code) violation counts and per-lang summaries
        self.violation_counts = {
            fc: int((r == res).sum()) for res, fc in self.PLANTED.items()
        }
        lang_idx = np.where(r == BAD_LANG, len(LANGS), ids % 7)
        bad = np.isin(r, list(self.PLANTED))
        names = LANGS + ["cobol"]
        self.per_lang = {
            names[k]: (int((lang_idx == k).sum()), int((bad & (lang_idx == k)).sum()))
            for k in range(len(names)) if (lang_idx == k).any()
        }
        self.n_violations = int(bad.sum())

        # table checks
        orphan = ~mega & (ridx % 100 == MISSING_REPO_RESIDUE)
        self.n_orphans = int(orphan.sum())
        self.orphan_path_chars = int(self._path_len(ids)[orphan].sum())
        counts = np.bincount(np.where(mega, N_REPOS, ridx), minlength=N_REPOS + 1)
        self.repo_counts = {
            (MEGA_REPO if k == N_REPOS else _repo_name(k)): int(c)
            for k, c in enumerate(counts) if c > 0
        }
        clen = np.where(
            r == BAD_CONTENT, 0,
            len("package pkg_") + _digits(ids % 50) + len("\n\nfunc f_")
            + _digits(ids) + len("() string {\n\treturn \"")
            + 8 * (ids % 13 + 1) + len("\"\n}\n"),
        )
        self.content_len_median = float(np.percentile(clen, 50))

    @staticmethod
    def _path_len(ids: np.ndarray) -> np.ndarray:
        ext_len = np.array([len(x) for x in LANGS])[ids % 7]
        return (len("src/pkg_") + _digits(ids % 50) + len("/file_") + _digits(ids)
                + 1 + ext_len + (ids % 1000 == BAD_PATH))

    def violation_keys(self) -> set[tuple[str, str, str, str, str]]:
        """Exact (repo, path, commit, field, code) set of the suite."""
        out = set()
        for res, (field, code) in self.PLANTED.items():
            for i in range(res, self.n_rows, 1000):
                repo = MEGA_REPO if self._mega[i] else _repo_name(int(self._ridx[i]))
                path = f"src/pkg_{i % 50}/file_{i}.{LANGS[i % 7]}"
                if i % 1000 == BAD_PATH:
                    path = "/" + path
                out.add((repo, path, _commit_of(i, self.seed), field, code))
        return out


# ------------------------------------------------------------------ addresses

def addresses(spark: SparkSession, n_rows: int, seed: int) -> DataFrame:
    """(id, email, ip, cidr, addr); one row in ten is IPv6, and each
    column is invalid at its ``BAD_ADDRESS`` residue."""
    i = F.col("id")
    r = i % 100
    h = _hash_col(i, seed, 3)
    g = _hash_col(i, seed, 5)
    v4 = F.concat_ws(".", *[c.cast("string") for c in (
        h % 223 + 1, F.shiftright(h, 8) % 256, F.shiftright(h, 16) % 256, g % 256)])
    v6 = F.concat(F.lit("2001:db8::"), F.lower(F.hex(g % 65536)),
                  F.lit(":"), F.lower(F.hex(h % 65536)))
    is6 = i % 10 == 1
    ip = F.when(is6, v6).otherwise(v4)
    port = (g % 65536).cast("string")

    def bad(col, field, code, broken):
        return F.when(r == BAD_ADDRESS[(field, code)], broken).otherwise(col)

    email = F.concat(F.lit("user"), i.cast("string"), F.lit("@mail"),
                     (g % 50).cast("string"), F.lit(".example.com"))
    cidr = F.concat(ip, F.lit("/"), F.when(is6, F.lit("64"))
                    .otherwise((h % 33).cast("string")))
    addr = F.when(is6, F.concat(F.lit("["), ip, F.lit("]:"), port)) \
        .otherwise(F.concat(ip, F.lit(":"), port))
    return spark.range(n_rows).select(
        i.alias("id"),
        bad(email, "email", "email",
            F.concat(F.lit("user"), i.cast("string"), F.lit(".example.com"))).alias("email"),
        bad(ip, "ip", "ip", F.concat(v4, F.lit(".1"))).alias("ip"),
        bad(cidr, "cidr", "cidr", F.concat(v4, F.lit("/40"))).alias("cidr"),
        bad(addr, "addr", "tcp_addr", F.concat(v4, F.lit(":70000"))).alias("addr"),
    )
