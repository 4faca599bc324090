"""Output checks for the benchmark, run after the timed region.

- catalog reads: each op's output against its DuckDB oracle SQL from
  `SparkEntry.oracleSql`, cell for cell after sorting columns by name
  and rows by every column (the repo's parity rule), except that two
  floating-point cells are equal when they differ by float noise, and,
  in the rounded-aggregate columns of `HALF_WAY` only, by exactly one
  unit in the last decimal either prints;
- the CSV cache report_suite writes every pass: its rows against the
  oracle of the catalog read it caches;
- rows-only ANN reads: recall@k against the exact brute-force search,
  against the threshold `q_recall_report` gates the same entry with;
- index_lifecycle: every snapshot read against a keep-last fold of the
  applied batches, every change feed replayed onto the previous round's
  fold, every BM25 and phrase search against its DuckDB oracle over the
  documents live in the index that round, and every PQ search against
  the same search over a PQ index rebuilt from scratch on that round's
  live vectors.

Each function returns {op name: reason} for the ops whose output is wrong.
"""
import glob
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from gen import TABLES

# Rounded sums and averages of doubles: Spark and DuckDB add the doubles
# in different orders, so a value that sits on a half-way point can round
# either way (seen: q1_pricing_summary's avg_price, 53984.773 against
# 53984.7731; q5_region_volume's revenue, 22029986.97 against 22029986.98).
# Rounded single values (q_overdue's total_price, q_dedup_keep_last's
# value) and every other column compare exactly.
HALF_WAY = {
    "q1_pricing_summary": {"sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
                           "avg_qty", "avg_price", "avg_disc"},
    "q3_top_revenue": {"revenue"},
    "q5_region_volume": {"revenue"},
    "q_priority_dist": {"total_price"},
    "q_period_report": {"total_price"},
    "q_parent_join": {"total_price"},
}


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def mismatch(want: pd.DataFrame, got: pd.DataFrame, half_way=frozenset()):
    """None when equal under `canon`, else a one-line reason. Float cells
    of the columns in `half_way` may also differ by one last-decimal unit."""
    want, got = canon(want), canon(got)
    if list(want.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(want) != len(got):
        return f"{len(got)} rows != {len(want)}"
    for c in want.columns:
        eq = want[c].astype(str) == got[c].astype(str)
        if not eq.all() and pd.api.types.is_float_dtype(want[c]) and pd.api.types.is_float_dtype(got[c]):
            eq = eq | pd.Series([float_close(a, b, c in half_way) for a, b in zip(want[c], got[c])],
                                index=eq.index)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"column {c} row {i}: {got[c].iloc[i]!r} != {want[c].iloc[i]!r}"
    return None


def float_close(want: float, got: float, half_way: bool) -> bool:
    """Float noise, or, when `half_way`, a difference of exactly one unit
    in the last decimal printed by either value (a half-way value rounded
    the other way)."""
    diff = abs(got - want)
    if diff <= 1e-12 * abs(want):
        return True
    if not half_way:
        return False
    texts = [repr(float(x)) for x in (want, got)]
    if any("e" in t or "n" in t for t in texts):
        return False
    unit = 10.0 ** -max(len(t.split(".")[1]) for t in texts)
    return abs(diff - unit) <= 1e-6 * unit


def catalog(data_dir: str, out_dir: str, csv_cache: dict) -> dict:
    """Every read with an oracle, and the CSV cache ({path, query}, or
    empty) as the op `cache_update`."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            why = mismatch(con.sql(sql).df(), pd.read_parquet(os.path.join(out_dir, "results", name)),
                           HALF_WAY.get(name, frozenset()))
        except Exception as e:  # a failed oracle or unreadable output is a wrong output
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why:
            bad[name] = why
    if csv_cache:
        try:
            parts = sorted(glob.glob(os.path.join(csv_cache["path"], "part-*.csv")))
            got = pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)
            why = mismatch(con.sql(oracle[csv_cache["query"]]).df(), got)
        except Exception as e:
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why:
            bad["cache_update"] = why
    return bad


def recall(out_dir: str, gates: dict) -> dict:
    def pairs(name):
        df = pd.read_parquet(os.path.join(out_dir, "results", name))
        return set(zip(df["q_id"].astype("int64"), df["neighbor_id"].astype("int64")))
    bad = {}
    for name, g in sorted(gates.items()):
        want, got = pairs(g["baseline"]), pairs(name)
        pct = 100 if not want else len(want & got) * 100 // len(want)
        if pct < g["threshold_pct"]:
            bad[name] = f"{g['gate']}: recall {pct}% < {g['threshold_pct']}%"
    return bad


COLS = ["doc_id", "rev", "source", "text"]


def fold_rounds(data_dir: str, last_round: int) -> dict:
    """{round: {doc_id: (doc_id, rev, source, text)}} after each round's writes."""
    lc = os.path.join(data_dir, "lifecycle")
    state, out = {}, {}

    def rows(name):
        t = pq.read_table(os.path.join(lc, name)).to_pydict()
        return zip(*(t[c] for c in COLS))

    with open(os.path.join(lc, "plan.tsv")) as f:
        plan = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    for line in plan:
        r, verb, args = int(line[0]), line[1], line[2:]
        if r > last_round:
            break
        if verb in ("create", "append"):
            for row in rows(args[0]):
                state[row[0]] = row
        elif verb == "merge":
            for row in rows(args[0]):
                if row[0] not in state or state[row[0]][1] <= row[1]:
                    state[row[0]] = row
        elif verb == "delete":
            for i in args[0].split(","):
                state.pop(int(i), None)
        elif verb == "update":
            for i in args[1].split(","):
                if int(i) in state:
                    d, rev, _, text = state[int(i)]
                    state[int(i)] = (d, rev, args[0], text)
        out[r] = dict(state)
    return out


def replay(before: dict, feed: pd.DataFrame) -> dict:
    """Apply a change feed (deletes before upserts within a version)."""
    state = dict(before)
    feed = feed.assign(_del=(feed["_change_type"] != "delete"))
    for _, row in feed.sort_values(["_commit_version", "_del"]).iterrows():
        key = int(row["doc_id"])
        if row["_change_type"] == "delete":
            state.pop(key, None)
        else:
            state[key] = tuple(row[c] for c in COLS)
    return state


def _frame(state: dict) -> pd.DataFrame:
    return pd.DataFrame(list(state.values()), columns=COLS)


def lifecycle(data_dir: str, facts: dict) -> dict:
    states = fold_rounds(data_dir, facts["last_round"])
    con = duckdb.connect()
    con.sql(f"CREATE VIEW corpus AS SELECT * FROM '{data_dir}/documents.parquet'")

    def oracle(name, r):
        ids = ",".join(str(i) for i in facts["live_docs"][str(r)]) or "NULL"
        con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM corpus WHERE doc_id IN ({ids})")
        return con.sql(facts["oracle_sql"][name]).df()

    bad = {}
    for rd in facts["reads"]:
        name, r = rd["name"], rd["round"]
        key = f"{name}#{rd['op']}"  # the op's name and id
        try:
            got = pd.read_parquet(rd["path"])
            if name == "snap_read_where":
                want = {k: v for k, v in states[r].items() if k >= int(rd["arg"])}
                why = mismatch(_frame(want), got[COLS])
            elif name == "snap_change_feed":
                why = mismatch(_frame(states[r]), _frame(replay(states[r - 1], got)))
            elif name == "pq_search":
                why = mismatch(pd.read_parquet(facts["rebuilt_pq"][str(r)]), got)
            else:
                why = mismatch(oracle(name, r), got)
        except Exception as e:
            why = f"{type(e).__name__}: {str(e)[:200]}"
        if why:
            bad[key] = why
    return bad
