"""Output checks against the registry's DuckDB twins (``oracle_sql()``).

Every check runs outside the timed window and returns a list of problems;
an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pandas as pd

#: Scores are compared at 6 decimal places. Spark's ``log`` and DuckDB's
#: ``ln`` may differ by one ulp, which can flip the sixth decimal of a
#: value sitting on a rounding boundary, so one unit in the sixth place
#: is accepted and anything wider is a mismatch.
SCORE_TOL = 1e-6 + 1e-12


def connect(sf_dir: str | None = None, documents: pd.DataFrame | None = None):
    """A DuckDB connection with the ``documents`` view the oracle SQL reads,
    from a DataFrame or from ``sf_dir``'s parquet table."""
    con = duckdb.connect()
    if documents is not None:
        con.register("documents", documents)
    if sf_dir is not None:
        p = os.path.join(sf_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle(con, name: str) -> pd.DataFrame:
    import __spark_entry__

    return con.execute(__spark_entry__.oracle_sql()[name]).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "f":
            df[c] = df[c].astype("float64")
        elif kind == "O":
            df[c] = df[c].map(repr)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, column names and order-insensitive values, exact after
    the engine's own 6-decimal rounding."""
    if len(got) != len(want):
        return [f"rowcount {len(got)} != oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    g, w = _normalize(got), _normalize(want)
    problems = []
    for c in g.columns:
        eq = g[c].eq(w[c]) | (g[c].isna() & w[c].isna())
        if not eq.all():
            i = int((~eq).idxmax())
            problems.append(
                f"{c}: {int((~eq).sum())} mismatches, first {g[c][i]!r} != {w[c][i]!r}"
            )
    return problems


def read_sorted_output(out_dir: str) -> pd.DataFrame:
    """The CLI's ``word|doc TAB tfidf`` part files, in file order."""
    frames = []
    for p in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        if os.path.getsize(p):
            frames.append(
                pd.read_csv(p, sep="\t", header=None, names=["key", "tfidf"],
                            dtype={"key": str, "tfidf": float}, quoting=3,
                            keep_default_na=False)
            )
    df = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
        {"key": pd.Series(dtype=str), "tfidf": pd.Series(dtype=float)}
    )
    parts = df["key"].str.rsplit("|", n=1, expand=True)
    return pd.DataFrame({"word": parts[0], "doc": parts[1], "tfidf": df["tfidf"]})


def check_sorted_scores(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """``got`` (word, doc, tfidf) in output order against the ``tfidf_full``
    oracle: same (word, doc) set, every score equal at 6 dp, and the rows
    in non-increasing score order."""
    problems = []
    if len(got) != len(want):
        problems.append(f"rowcount {len(got)} != oracle {len(want)}")
    merged = got.merge(
        want[["word", "doc", "tfidf"]], on=["word", "doc"], how="outer",
        suffixes=("", "_oracle"), indicator=True,
    )
    unmatched = int((merged["_merge"] != "both").sum())
    if unmatched:
        problems.append(f"{unmatched} (word, doc) keys differ from the oracle")
    both = merged[merged["_merge"] == "both"]
    diff = (both["tfidf"].round(6) - both["tfidf_oracle"]).abs()
    bad = int((diff > SCORE_TOL).sum())
    if bad:
        i = diff.idxmax()
        problems.append(
            f"{bad} scores differ at 6 dp, worst {both['word'][i]}|{both['doc'][i]}: "
            f"{both['tfidf'][i]!r} != {both['tfidf_oracle'][i]!r}"
        )
    rises = int((got["tfidf"].diff() > 0).sum())
    if rises:
        problems.append(f"{rises} rows out of non-increasing score order")
    return problems
