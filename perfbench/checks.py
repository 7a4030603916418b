"""Output checks, written apart from the program.

Each check takes plain Python values (rows collected from Spark, answers
computed by DuckDB or by hand) and raises ``CheckFailed`` with a reason when
the output is wrong.  ``selftest.py`` feeds each one a corrupted output.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import re
from collections import Counter


class CheckFailed(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# ---------------------------------------------------------------------------
# order-insensitive table comparison
# ---------------------------------------------------------------------------

def _canon_value(v):
    if v is None or (isinstance(v, float) and v != v):
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        # 12 significant digits: exact decimals and doubles summed in a
        # different order agree to this precision
        return f"{float(v):.12g}"
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(x)}"
                              for k, x in sorted(v.items())) + "}"
    return str(v)


def canon_table(table) -> tuple[list[str], list[tuple]]:
    """pyarrow Table -> (sorted column names, sorted canonical rows)."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(tuple(_canon_value(v) for v in r) for r in zip(*data))
    return cols, rows


def check_same_table(got, want, what: str) -> None:
    """``got``/``want`` are results of :func:`canon_table`."""
    require(got[0] == want[0], f"{what}: columns {got[0]} != {want[0]}")
    require(len(got[1]) == len(want[1]),
            f"{what}: {len(got[1])} rows, expected {len(want[1])}")
    for a, b in zip(got[1], want[1]):
        require(a == b, f"{what}: row {a} != expected {b}")


# ---------------------------------------------------------------------------
# text helpers mirrored from the package's documented semantics
# ---------------------------------------------------------------------------

def norm_tokens(text: str) -> list[str]:
    """lower + trim + collapse whitespace, split on spaces."""
    n = re.sub(r"\s+", " ", text.lower().strip())
    return n.split(" ") if n else []


def word_shingles(text: str, n: int) -> set[str]:
    toks = norm_tokens(text)
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = word_shingles(a, n), word_shingles(b, n)
    return len(sa & sb) / len(sa | sb)


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

def expected_kept(inputs: dict[int, str], eval_texts: list[str],
                  min_hits: int = 3, n: int = 5) -> set[int]:
    """Ids the curation chain must keep: the smallest id of each group of
    documents with the same normalized text (exact dedup), less every
    keeper that shares ``min_hits`` or more distinct word ``n``-grams with
    the eval set (decontamination)."""
    keeper: dict[str, int] = {}
    for i in sorted(inputs):
        keeper.setdefault(" ".join(norm_tokens(inputs[i])), i)
    eval_grams = set()
    for t in eval_texts:
        eval_grams |= word_shingles(t, n)
    return {i for i in keeper.values()
            if len(word_shingles(inputs[i], n) & eval_grams) < min_hits}


def check_curated(out: list[dict], inputs: dict[int, str],
                  eval_texts: list[str], split_of: dict[int, str]) -> None:
    """``out``: rows (doc_id, text, split) of the written corpus.
    ``split_of``: the label each id must carry, recomputed in DuckDB."""
    ids = [r["doc_id"] for r in out]
    require(len(ids) == len(set(ids)), "curated ids are not unique")
    require(set(ids) <= set(inputs), "curated ids not among the inputs")
    md5s = Counter(hashlib.md5(r["text"].encode()).hexdigest() for r in out)
    for r in out:
        require(r["text"] == inputs[r["doc_id"]],
                f"doc {r['doc_id']}: text differs from its input")
    require(max(md5s.values(), default=1) == 1,
            "two curated docs share the md5 of their text")
    eval_grams = set()
    for t in eval_texts:
        eval_grams |= word_shingles(t, 5)
    for r in out:
        hits = len(word_shingles(r["text"], 5) & eval_grams)
        require(hits < 3, f"doc {r['doc_id']} shares {hits} 5-grams with "
                          "the eval set")
    want = expected_kept(inputs, eval_texts)
    require(set(ids) == want,
            f"curated ids differ from the expected keepers: "
            f"{len(want - set(ids))} dropped, {len(set(ids) - want)} extra")
    for r in out:
        require(r["split"] == split_of[r["doc_id"]],
                f"doc {r['doc_id']}: split {r['split']} != "
                f"{split_of[r['doc_id']]}")


BPE_ISH = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")


def check_packed(packed: list[dict], texts: dict[int, str],
                 train_ids: set[int], budget: int) -> None:
    """``packed``: rows (source, doc_id, n_tok, tokens_before, bin_id) of
    the packed train split.  Each source's token stream, in ``doc_id``
    order, is cut into ``budget``-token bins.  Every train doc must appear
    exactly once, with its token count recounted here from its text, and
    its ``tokens_before``/``bin_id`` must equal a plain replay of that
    stream; the replay puts each doc's start in exactly one bin and no
    more than ``budget`` token positions in any bin."""
    ids = [r["doc_id"] for r in packed]
    require(len(ids) == len(set(ids)), "a train doc lies in two bins")
    require(set(ids) == train_ids, "packed docs != train split")
    by_src: dict[str, list[dict]] = {}
    for r in packed:
        by_src.setdefault(r["source"], []).append(r)
    for rows in by_src.values():
        rows.sort(key=lambda r: r["doc_id"])
        pos = 0
        for r in rows:
            n_tok = len(BPE_ISH.findall(texts[r["doc_id"]]))
            require(r["n_tok"] == n_tok,
                    f"doc {r['doc_id']}: n_tok {r['n_tok']} != {n_tok}")
            require(r["tokens_before"] == pos,
                    f"doc {r['doc_id']}: tokens_before {r['tokens_before']}"
                    f" != {pos}")
            require(r["bin_id"] == pos // budget,
                    f"doc {r['doc_id']}: bin {r['bin_id']} != "
                    f"{pos // budget}")
            pos += max(n_tok, 1)


# ---------------------------------------------------------------------------
# index
# ---------------------------------------------------------------------------

def check_pairs_jaccard(pairs: list[tuple], texts: dict[int, str],
                        threshold: float) -> None:
    """Every reported (a, b, jaccard) pair really is that similar."""
    for a, b, j in pairs:
        got = round(jaccard(texts[a], texts[b]), 6)
        require(got >= threshold,
                f"pair ({a}, {b}): Jaccard {got} < {threshold}")
        require(abs(got - j) < 1e-6,
                f"pair ({a}, {b}): reported {j}, recomputed {got}")


def check_same_rows(got: list[tuple], want: list[tuple], what: str) -> None:
    require(sorted(got) == sorted(want),
            f"{what}: {len(got)} rows differ from the expected {len(want)}")


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------

def check_stream_rows(listener_rows: int, source_rows: int,
                      table_gain: int) -> None:
    require(listener_rows == source_rows,
            f"listener saw {listener_rows} input rows, source files hold "
            f"{source_rows}")
    require(table_gain == source_rows,
            f"table gained {table_gain} rows, stream carried {source_rows}")
