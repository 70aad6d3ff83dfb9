"""Cross-edition word alignment: the fuzzy ordered as-of join (J1).

Reference semantics (fusus/align.py:603-815 ``doDiffs``): a 2-pointer
walk over two word sequences with a decision ladder —

  1. exact match;
  2. Levenshtein match through an escalating ``(maxD, minRatio)``
     ladder: (1, 0.8) -> (2, 0.7) -> (3, 0.6);
  3. bounded lookahead (jump) with catch-up null-padding for the side
     that skipped (align.py:293-331 catchupAF/LK).

The algorithm is inherently sequential per document pair, so the Spark
plan is: **block by url, cogroup, align inside an Arrow
``applyInPandas``** (SURVEY.md J1 mapping) — each group is one small
sequential problem; the cluster runs millions of them in parallel.

Invariant (align.py:892-976 ``check``): every slot of each side
appears exactly once, in order — asserted by tests/test_align.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from fusus_spark.session import drop_zip_finders

LADDER = ((1, 0.8), (2, 0.7), (3, 0.6))
MAX_LOOKAHEAD = 100  # reference uses escalating lookahead up to 100 (align.py:524-601)
MAX_COMBI = 4

# n:m combination schedule (getCombis analog, align.py:272-291): all
# (left, right) word-group sizes up to 4+4 except 1:1, ordered by total
# size then by skew — the same priority the reference uses.
COMBIS: tuple[tuple[int, int], ...] = tuple(
    sorted(
        (
            (i, j)
            for i in range(1, MAX_COMBI + 1)
            for j in range(1, MAX_COMBI + 1)
            if (i, j) != (1, 1)
        ),
        key=lambda x: (x[0] + x[1], abs(x[0] - x[1])),
    )
)

ALIGN_OUT_SCHEMA = (
    "url string, slot_a long, word_a string, distance int, "
    "ratio double, word_b string, slot_b long"
)


def _lev(a: str, b: str) -> int:
    """Levenshtein distance, small-string DP (no external lib)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _ratio(a: str, b: str, d: int) -> float:
    m = max(len(a), len(b))
    return 1.0 if m == 0 else round(1.0 - d / m, 6)


def _similar(a: str, b: str, max_d: int, min_r: float) -> tuple[int, float] | None:
    """(distance, ratio) when the pair passes ONE rung's thresholds."""
    if a == b:
        return 0, 1.0
    d = _lev(a, b)
    if d > max_d:
        return None
    r = _ratio(a, b, d)
    return (d, r) if r >= min_r else None


def _match(a: str, b: str) -> tuple[int, float] | None:
    """Full-ladder decision: (distance, ratio) if the pair matches."""
    for max_d, min_r in LADDER:
        m = _similar(a, b, max_d, min_r)
        if m is not None:
            return m
    return None


def _find_combi(
    a: list[tuple[int, str]], b: list[tuple[int, str]], i: int, j: int,
    max_d: int, min_r: float,
) -> tuple[int, int, int, float] | None:
    """n:m combination match (findCombi analog, align.py:388-444): try
    the COMBIS schedule; the group texts are concatenated WITHOUT
    separator (split/merged-word repair). Returns (ca, cb, d, r)."""
    na, nb = len(a), len(b)
    for ca, cb in COMBIS:
        if i + ca > na or j + cb > nb:
            continue
        ta = "".join(a[i + s][1] for s in range(ca))
        tb = "".join(b[j + s][1] for s in range(cb))
        m = _similar(ta, tb, max_d, min_r)
        if m is not None:
            return ca, cb, m[0], m[1]
    return None


MANUAL_DISTANCE = -1  # distance marker for doCase-forced rows


def align_sequences(
    a: list[tuple[int, str]], b: list[tuple[int, str]],
    exceptions: dict[int, int] | None = None,
) -> list[tuple[int | None, str | None, int | None, float | None, str | None, int | None]]:
    """Align two (slot, word) sequences; every slot emitted exactly once.

    Decision order mirrors the reference's ``compare`` per ladder rung
    (align.py:446-521): at each rung, a direct 1:1 match is tried, then
    the n:m combinations — so a rung-1 combination beats a rung-2 direct
    match, exactly as in ``doDiffs``. Only then the bounded lookahead
    (jump + catch-up null padding) fires.

    ``exceptions`` is the doCase analog (align.py:333-386): a
    human-curated {slot_a: slot_b} override table consulted BEFORE the
    ladder. When the walk reaches an excepted slot on either side and
    its partner lies within the lookahead horizon ahead on the other
    side, the skipped stretch is emitted as one-sided catch-up rows and
    the pair is force-matched with ``distance = MANUAL_DISTANCE`` /
    ``ratio = 1.0`` — real cross-edition work always ends with a handful
    of manual cases no ladder can decide.
    """
    exc_ab = exceptions or {}
    exc_ba = {v: k for k, v in exc_ab.items()}
    out: list = []
    i, j = 0, 0
    na, nb = len(a), len(b)

    def force_pair(ka: int, kb: int) -> None:
        """Catch-up both sides to (i+ka, j+kb), then emit the manual pair."""
        nonlocal i, j
        for s in range(ka):
            out.append((a[i + s][0], a[i + s][1], None, None, None, None))
        for s in range(kb):
            out.append((None, None, None, None, b[j + s][1], b[j + s][0]))
        out.append((
            a[i + ka][0], a[i + ka][1], MANUAL_DISTANCE, 1.0,
            b[j + kb][1], b[j + kb][0],
        ))
        i += ka + 1
        j += kb + 1

    def try_manual() -> bool:
        """doCase consult: fires when the current position on either
        side is an excepted slot whose partner is within lookahead."""
        target_b = exc_ab.get(a[i][0])
        if target_b is not None:
            for kb in range(min(MAX_LOOKAHEAD + 1, nb - j)):
                if b[j + kb][0] == target_b:
                    force_pair(0, kb)
                    return True
        target_a = exc_ba.get(b[j][0])
        if target_a is not None:
            for ka in range(min(MAX_LOOKAHEAD + 1, na - i)):
                if a[i + ka][0] == target_a:
                    force_pair(ka, 0)
                    return True
        return False

    while i < na and j < nb:
        if exc_ab and try_manual():
            continue
        matched = False
        for max_d, min_r in LADDER:
            m = _similar(a[i][1], b[j][1], max_d, min_r)
            if m is not None:
                out.append((a[i][0], a[i][1], m[0], m[1], b[j][1], b[j][0]))
                i += 1
                j += 1
                matched = True
                break
            c = _find_combi(a, b, i, j, max_d, min_r)
            if c is not None:
                ca, cb, d, r = c
                # pair the group's slots element-wise; the longer side's
                # leftovers become one-sided rows (align.py:429-443) —
                # every slot still appears exactly once
                for s in range(max(ca, cb)):
                    sa = a[i + s] if s < ca else None
                    sb = b[j + s] if s < cb else None
                    out.append((
                        sa[0] if sa else None, sa[1] if sa else None,
                        d, r,
                        sb[1] if sb else None, sb[0] if sb else None,
                    ))
                i += ca
                j += cb
                matched = True
                break
        if matched:
            continue
        # lookahead: smallest total jump (k_a + k_b) that re-synchronizes
        best: tuple[int, int, int] | None = None  # (cost, ka, kb)
        for ka in range(MAX_LOOKAHEAD + 1):
            if i + ka >= na:
                break
            for kb in range(MAX_LOOKAHEAD + 1):
                if (ka, kb) == (0, 0) or j + kb >= nb:
                    if (ka, kb) == (0, 0):
                        continue
                    break
                if best is not None and ka + kb >= best[0]:
                    break
                if _match(a[i + ka][1], b[j + kb][1]) is not None:
                    best = (ka + kb, ka, kb)
                    break
        if best is None:
            break  # tails emitted below
        _, ka, kb = best
        for s in range(ka):  # catch-up null padding (catchupLK analog)
            out.append((a[i + s][0], a[i + s][1], None, None, None, None))
        for s in range(kb):  # catchupAF analog
            out.append((None, None, None, None, b[j + s][1], b[j + s][0]))
        i += ka
        j += kb
    for s in range(i, na):
        out.append((a[s][0], a[s][1], None, None, None, None))
    for s in range(j, nb):
        out.append((None, None, None, None, b[s][1], b[s][0]))
    return out


def align_editions(
    edition_a: DataFrame, edition_b: DataFrame,
    exceptions: DataFrame | None = None,
) -> DataFrame:
    """Align two word tables (url, slot, word) -> alignment rows per url.

    Plan: cogroup on url (one shuffle per side), Arrow applyInPandas.

    ``exceptions``: optional (url, slot_a, slot_b) manual-override table
    (the doCase analog, fusus/align.py:333-386). It is human-curated and
    therefore tiny by definition, so it is collected driver-side and
    shipped in the UDF closure — the one deliberate exception to the
    no-collect rule, same as the mark catalog.
    """
    exc_by_url: dict[str, dict[int, int]] = {}
    if exceptions is not None:
        rows = exceptions.select("url", "slot_a", "slot_b").limit(100_001).collect()
        if len(rows) > 100_000:
            # the "tiny by definition" contract, enforced: beyond this a
            # caller is feeding data, not curation, and the driver-side
            # dict would become an OOM/serialization hazard
            raise ValueError(
                "align exception table exceeds 100k rows — it must be a "
                "human-curated override list, not a data table"
            )
        for r in rows:
            exc_by_url.setdefault(r["url"], {})[r["slot_a"]] = r["slot_b"]

    def do_align(key: tuple, pa: pd.DataFrame, pb: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        url = key[0]
        sa = list(
            pa.sort_values("slot")[["slot", "word"]].itertuples(index=False, name=None)
        )
        sb = list(
            pb.sort_values("slot")[["slot", "word"]].itertuples(index=False, name=None)
        )
        rows = align_sequences(sa, sb, exc_by_url.get(url))
        return pd.DataFrame(
            rows, columns=["slot_a", "word_a", "distance", "ratio", "word_b", "slot_b"]
        ).assign(url=url)[
            ["url", "slot_a", "word_a", "distance", "ratio", "word_b", "slot_b"]
        ]

    return (
        edition_a.groupBy("url")
        .cogroup(edition_b.groupBy("url"))
        .applyInPandas(do_align, schema=ALIGN_OUT_SCHEMA)
    )
