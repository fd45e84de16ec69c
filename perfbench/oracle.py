"""Exactness checks against the package's float64 BM25 oracle.

A result passes only when its doc ids come in the same order as the
oracle's and every score equals the oracle's float64 score bit for bit.

One known departure is told apart rather than counted as a failure: the
Spark batch path takes the idf's logarithm with Spark SQL's ``ln``
(``StrictMath.log``, fdlibm), which for about 8% of arguments differs in
the last bit from the oracle's ``math.log``. A Spark batch result that
equals, bit for bit, the oracle's with fdlibm's logarithm in its idf
passes and is reported as ``ln_only``; any other difference fails.
"""

from __future__ import annotations

import math
import struct
from unittest import mock

import pandas as pd

from lucene_mapreduce_spark.query import bm25

Hits = list[tuple[int, float]]

_LN2_HI = 6.93147180369123816490e-01
_LN2_LO = 1.90821492927058770002e-10
_TWO54 = 1.80143985094819840000e+16
_LG1, _LG2, _LG3, _LG4, _LG5, _LG6, _LG7 = (
    6.666666666666735130e-01, 3.999999999940941908e-01, 2.857142874366239149e-01,
    2.222219843214978396e-01, 1.818357216161805012e-01, 1.531383769920937332e-01,
    1.479819860511658591e-01,
)


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def _double(b: int) -> float:
    return struct.unpack("<d", struct.pack("<Q", b))[0]


def fdlibm_log(x: float) -> float:
    """The natural logarithm exactly as fdlibm's ``e_log.c`` computes it:
    the ``StrictMath.log`` behind Spark SQL's ``ln``, bit for bit."""
    if math.isnan(x) or x < 0.0:
        return math.nan
    if x == 0.0:
        return -math.inf
    if math.isinf(x):
        return x
    k = 0
    hx = _bits(x) >> 32
    if hx < 0x00100000:  # subnormal: scale into the normal range
        k -= 54
        x *= _TWO54
        hx = _bits(x) >> 32
    k += (hx >> 20) - 1023
    hx &= 0x000FFFFF
    i = (hx + 0x95F64) & 0x100000
    # normalize x or x/2 into [sqrt(2)/2, sqrt(2))
    x = _double(((hx | (i ^ 0x3FF00000)) << 32) | (_bits(x) & 0xFFFFFFFF))
    k += i >> 20
    f = x - 1.0
    dk = float(k)
    if (0x000FFFFF & (2 + hx)) < 3:  # |f| < 2**-20
        if f == 0.0:
            return 0.0 if k == 0 else dk * _LN2_HI + dk * _LN2_LO
        r = f * f * (0.5 - 0.33333333333333333 * f)
        return f - r if k == 0 else dk * _LN2_HI - ((r - dk * _LN2_LO) - f)
    s = f / (2.0 + f)
    z = s * s
    i = hx - 0x6147A
    w = z * z
    j = 0x6B851 - hx
    t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
    t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
    i |= j
    r = t2 + t1
    if i > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f)
    if k == 0:
        return f - s * (f - r)
    return dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f)


def _spark_idf(df_t: int, n_docs: int) -> float:
    return fdlibm_log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))


def oracle_hits(docs: pd.DataFrame, query_text: str, k: int, spark_ln: bool = False) -> Hits:
    """The oracle's top-k; with ``spark_ln``, with fdlibm's logarithm in
    its idf and nothing else changed."""
    if spark_ln:
        with mock.patch.object(bm25, "bm25_idf", _spark_idf):
            ref = bm25.bm25_oracle_pandas(docs, query_text, k=k)
    else:
        ref = bm25.bm25_oracle_pandas(docs, query_text, k=k)
    return list(zip(ref["doc_id"].astype("int64").tolist(), ref["score"].tolist()))


def same_hits(got: Hits, want: Hits) -> bool:
    """Identical (doc_id, score) sequences; scores compared exactly."""
    return len(got) == len(want) and all(
        int(gd) == int(wd) and float(gs) == float(ws)
        for (gd, gs), (wd, ws) in zip(got, want)
    )


def hits_by_query(rows: pd.DataFrame) -> dict[str, Hits]:
    """Group a (query_id, doc_id, score, rank) frame into ranked hit lists."""
    out: dict[str, Hits] = {}
    for qid, part in rows.sort_values(["query_id", "rank"]).groupby("query_id", sort=False):
        out[str(qid)] = list(
            zip(part["doc_id"].astype("int64").tolist(), part["score"].tolist())
        )
    return out


def first_difference(got: Hits, want: Hits) -> str:
    """The first rank at which ``got`` departs from ``want``, for reports."""
    for i, (g, w) in enumerate(zip(got, want)):
        if int(g[0]) != int(w[0]) or float(g[1]) != float(w[1]):
            return f"rank {i + 1}: got {g!r}, oracle {w!r}"
    return f"{len(got)} hits, oracle {len(want)}"


def check(docs: pd.DataFrame, queries: dict[str, str], got: dict[str, Hits], k: int,
          spark_ln: bool = False) -> tuple[list[str], list[str]]:
    """(failed, ln_only): one line per query in ``queries`` whose hits in
    ``got`` differ from the oracle over ``docs`` (a query absent from
    ``got`` has no hits). With ``spark_ln`` a query whose hits equal the
    oracle's under fdlibm's logarithm is listed in ``ln_only`` instead."""
    bad, ln_only = [], []
    for qid, text in queries.items():
        hits = got.get(qid, [])
        want = oracle_hits(docs, text, k)
        if same_hits(hits, want):
            continue
        line = f"{qid} {text!r} {first_difference(hits, want)}"
        if spark_ln and same_hits(hits, oracle_hits(docs, text, k, spark_ln=True)):
            ln_only.append(line)
        else:
            bad.append(line)
    return bad, ln_only
