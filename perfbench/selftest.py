#!/usr/bin/env python3
"""Show that every output check can fail.

    python3 perfbench/selftest.py

Each case first passes a correct output through a check, then corrupts it
(drop a row, perturb a value, move a document into a second bin, ...) and
expects ``CheckFailed``.  Needs DuckDB and pyarrow, not a Spark session.
Exits 0 when every check accepted the good output and rejected every
corrupted one.
"""

from __future__ import annotations

import copy
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import pyarrow as pa  # noqa: E402

import checks  # noqa: E402
import datagen  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, fn, ok: bool) -> None:
    try:
        fn()
        passed = True
    except checks.CheckFailed:
        passed = False
    if passed != ok:
        FAILURES.append(f"{name}: expected {'pass' if ok else 'reject'}")
    print(f"{'ok ' if passed == ok else 'BAD'} {name}: "
          f"{'accepted' if passed else 'rejected'}")


def relational() -> None:
    import duckdb

    from relational import oracle_answers
    from steel_datafusion_spark.queries import RELATIONAL_QUERIES

    with tempfile.TemporaryDirectory() as d:
        paths = datagen.write_tables(d, seed=7, sf=0.001)
        name = "pricing_summary"
        want = oracle_answers(paths, [name])[name]
        con = duckdb.connect()
        for t, p in paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{p}')")
        got = con.execute(RELATIONAL_QUERIES[name][1]).fetch_arrow_table()
    expect("relational: same answer",
           lambda: checks.check_same_table(checks.canon_table(got), want,
                                           name), True)
    expect("relational: row dropped",
           lambda: checks.check_same_table(
               checks.canon_table(got.slice(1)), want, name), False)
    col = next(c for c in got.column_names
               if pa.types.is_floating(got.schema.field(c).type))
    vals = got.column(col).to_pylist()
    vals[0] = vals[0] * (1 + 1e-9)
    bad = got.set_column(got.column_names.index(col), col,
                         pa.array(vals, got.schema.field(col).type))
    expect("relational: value perturbed in the 10th digit",
           lambda: checks.check_same_table(checks.canon_table(bad), want,
                                           name), False)


def curation() -> None:
    inputs = {1: "a b c d e f g", 2: "h i j k l m n", 3: "a b c d e f g",
              4: "x y z w v u t s", 5: "q r s t u v w x y"}
    eval_texts = ["x y z w v u t s"]
    out = [{"doc_id": 1, "text": inputs[1], "split": "train"},
           {"doc_id": 2, "text": inputs[2], "split": "val"},
           {"doc_id": 5, "text": inputs[5], "split": "train"}]
    split_of = {1: "train", 2: "val", 5: "train"}

    def run(rows, splits=split_of):
        return lambda: checks.check_curated(rows, inputs, eval_texts, splits)

    expect("curation: correct corpus", run(out), True)
    bad = copy.deepcopy(out)
    bad[0]["text"] += " extra"
    expect("curation: text changed", run(bad), False)
    expect("curation: id repeated", run(out + [out[0]]), False)
    expect("curation: exact duplicate kept",
           run(out + [{"doc_id": 3, "text": inputs[3], "split": "train"}],
               {**split_of, 3: "train"}), False)
    expect("curation: contaminated doc kept",
           run(out + [{"doc_id": 4, "text": inputs[4], "split": "train"}],
               {**split_of, 4: "train"}), False)
    expect("curation: unknown id",
           run(out + [{"doc_id": 9, "text": "new", "split": "train"}],
               {**split_of, 9: "train"}), False)
    bad = copy.deepcopy(out)
    bad[1]["split"] = "train"
    expect("curation: split label off the hash rule", run(bad), False)
    expect("curation: keeper dropped", run(out[1:]), False)
    expect("curation: clean doc dropped", run(out[:2]), False)
    bad = copy.deepcopy(out)
    bad[0].update(doc_id=3, text=inputs[3])
    expect("curation: duplicate kept in place of its keeper",
           run(bad, {**split_of, 3: "train"}), False)


def packing() -> None:
    budget = 10
    docs = [("s0", 1, 4), ("s0", 2, 8), ("s0", 3, 3), ("s1", 4, 12),
            ("s1", 5, 1)]
    # "w" repeated n times is n tokens under the BPE-style pattern
    texts = {i: " ".join(["w"] * n) for _s, i, n in docs}
    packed, pos = [], {}
    for src, i, n in docs:
        p = pos.get(src, 0)
        packed.append({"source": src, "doc_id": i, "n_tok": n,
                       "tokens_before": p, "bin_id": p // budget})
        pos[src] = p + n
    train = {i for _s, i, _n in docs}

    def run(rows):
        return lambda: checks.check_packed(rows, texts, train, budget)

    expect("packing: correct bins", run(packed), True)
    moved = packed + [dict(packed[1], bin_id=packed[1]["bin_id"] + 1)]
    expect("packing: doc moved into a second bin", run(moved), False)
    bad = copy.deepcopy(packed)
    bad[2]["bin_id"] = 0
    expect("packing: bin id off its token offset", run(bad), False)
    expect("packing: train doc missing", run(packed[1:]), False)
    bad = copy.deepcopy(packed)
    bad[0]["n_tok"] = 3
    expect("packing: token count misreported", run(bad), False)


def table() -> None:
    rows = pa.table({"k": [1, 2, 3], "price": [1.5, 2.25, 3.0],
                     "status": ["F", "O", "P"]})
    want = checks.canon_table(rows)
    expect("table: same snapshot",
           lambda: checks.check_same_table(
               checks.canon_table(rows.take([2, 0, 1])), want, "t"), True)
    expect("table: row dropped",
           lambda: checks.check_same_table(
               checks.canon_table(rows.slice(0, 2)), want, "t"), False)
    bad = rows.set_column(1, "price", pa.array([1.5, 2.26, 3.0]))
    expect("table: value perturbed",
           lambda: checks.check_same_table(checks.canon_table(bad), want,
                                           "t"), False)
    expect("stream: rows counted",
           lambda: checks.check_stream_rows(600, 600, 600), True)
    expect("stream: a batch lost",
           lambda: checks.check_stream_rows(400, 600, 600), False)
    expect("stream: table gained too few",
           lambda: checks.check_stream_rows(600, 600, 599), False)


def index() -> None:
    texts = {1: "a b c d e f g h", 2: "a b c d e f g h dup",
             3: "p q r s t u v w"}
    j = round(checks.jaccard(texts[1], texts[2]), 6)
    expect("index: similar pair",
           lambda: checks.check_pairs_jaccard([(1, 2, j)], texts, 0.5), True)
    expect("index: dissimilar pair reported",
           lambda: checks.check_pairs_jaccard([(1, 3, 0.6)], texts, 0.5),
           False)
    expect("index: similarity misreported",
           lambda: checks.check_pairs_jaccard([(1, 2, j - 0.01)], texts,
                                              0.5), False)
    expect("index: probe equals direct",
           lambda: checks.check_same_rows([(1, 2, j)], [(1, 2, j)], "p"),
           True)
    expect("index: probe lost a match",
           lambda: checks.check_same_rows([], [(1, 2, j)], "p"), False)


def main() -> int:
    for case in (relational, curation, packing, table, index):
        case()
    if FAILURES:
        print("\n".join(FAILURES), file=sys.stderr)
        return 1
    print("every check accepted its correct output and rejected each "
          "corruption")
    return 0


if __name__ == "__main__":
    sys.exit(main())
