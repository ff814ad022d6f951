"""Correctness checks the benchmark runs outside its timed regions.

All functions here are pure: they compare results already collected and
return what differs, so a test can feed them a wrong result directly.
Entry results are compared the way the repository's entry gate
(``tools/check_entry.py``) compares them, on its own canonical form.
"""

from __future__ import annotations

import hashlib
import sys

import pandas as pd

from tools.check_entry import _canon as canonical

SCORE_TOL = 1e-9


class Tally:
    """Counts checked operations and the ones that failed a check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench check failed: {what}", file=sys.stderr)
        return ok

    def record_many(self, n: int, bad: set, what: str) -> None:
        """``n`` operations checked together, ``bad`` the failing ones."""
        self.attempted += n
        self.failed += len(bad)
        if bad:
            print(
                f"perfbench check failed: {what}: {sorted(bad)[:10]}",
                file=sys.stderr,
            )


def topk_by_query(rows) -> dict[str, list[tuple[str, int, float]]]:
    """Spark rows / tuples (query_id, rank, conv_id, turn_idx, score) →
    {query_id: [(conv_id, turn_idx, score)] in rank order}."""
    grouped: dict[str, list[tuple[int, str, int, float]]] = {}
    for r in rows:
        qid, rank, conv, turn, score = (r[0], r[1], r[2], r[3], r[4])
        grouped.setdefault(qid, []).append((int(rank), conv, int(turn), float(score)))
    return {
        q: [(c, t, s) for _, c, t, s in sorted(v)] for q, v in grouped.items()
    }


def topk_mismatches(
    expected: dict[str, list[tuple[str, int, float]]],
    got: dict[str, list[tuple[str, int, float]]],
    query_ids,
) -> set[str]:
    """Queries whose ranked (conv_id, turn_idx) lists differ or whose
    scores differ by SCORE_TOL or more. A query missing on one side
    counts as an empty result there."""
    bad = set()
    for q in query_ids:
        a, b = expected.get(q, []), got.get(q, [])
        if len(a) != len(b):
            bad.add(q)
            continue
        for (ca, ta, sa), (cb, tb, sb) in zip(a, b):
            if (ca, ta) != (cb, tb) or abs(sa - sb) >= SCORE_TOL:
                bad.add(q)
                break
    return bad


def dictionary_mismatch(terms: pd.DataFrame, oracle_index) -> str | None:
    """``terms`` (term, term_id, df, ttf) against the oracle's dictionary;
    → a description of the first difference, or None."""
    if len(terms) != len(oracle_index.term_ids):
        return f"{len(terms)} terms vs oracle {len(oracle_index.term_ids)}"
    for term, tid, df, ttf in zip(terms["term"], terms["term_id"], terms["df"], terms["ttf"]):
        if (
            oracle_index.term_ids.get(term) != tid
            or oracle_index.df.get(term) != df
            or oracle_index.ttf.get(term) != ttf
        ):
            return f"term {term!r}: ({tid}, {df}, {ttf})"
    return None


def digest(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, hash of the canonical frame)."""
    c = canonical(df)
    h = hashlib.sha1(",".join(c.columns).encode())
    h.update(pd.util.hash_pandas_object(c, index=False).to_numpy().tobytes())
    return len(c), h.hexdigest()


def frame_mismatch(got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """The entry gate's comparison: column names, row count, then exact
    values on canonical frames."""
    a, b = canonical(got), canonical(expected)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if not a.equals(b):
        return "values differ in " + ", ".join(
            c for c in a.columns if not a[c].equals(b[c])
        )
    return None
