"""Correctness checks of a run's outputs.

Registry queries are compared once per run against DuckDB on their
oracle SQL, with the strict rules of tools/check_oracle.py: columns
matched by name, rows compared as sorted multisets, values exactly equal.
Index ops are checked against the benchmark's own model of the index.
"""

import glob
import os

from pb.plans import parse_ids


def _key(row):
    # None-safe total order for sorting rows with mixed nulls
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)


def _sorted_rows(rows, cols):
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted((tuple(r[i] for i in idx) for r in rows), key=_key)


def compare_rows(got_cols, got, want_cols, want):
    """None when the results match, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    g = _sorted_rows(got, got_cols)
    w = _sorted_rows(want, want_cols)
    if g != w:
        diff = [(a, b) for a, b in zip(g, w) if a != b][:2]
        return f"{len(g)} vs {len(w)} rows; first diffs: {diff}"
    return None


def oracle_check(data_dir, check_dir, queries):
    """{query: None or failure reason} for each query whose result the
    driver dumped under check_dir/<query> beside check_dir/<query>.sql."""
    import duckdb
    con = duckdb.connect()
    try:
        for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            t = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for q in queries:
            spark_dir = os.path.join(check_dir, q)
            sql_path = spark_dir + ".sql"
            if not os.path.isdir(spark_dir) or not os.path.exists(sql_path):
                out[q] = "no result dumped"
                continue
            sql = open(sql_path).read()
            if not sql.strip():
                out[q] = "no oracle SQL"
                continue
            try:
                got = con.execute(
                    f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
                got_rows = got.fetchall()
                got_cols = [d[0] for d in got.description]
                want = con.execute(sql)
                want_rows = want.fetchall()
                want_cols = [d[0] for d in want.description]
            except Exception as e:  # a broken dump or oracle is a failure
                out[q] = f"{type(e).__name__}: {e}"
                continue
            out[q] = compare_rows(got_cols, got_rows, want_cols, want_rows)
        return out
    finally:
        con.close()


def check_index_op(model, op, result):
    """None if `result` is right for `op` against `model` (the state
    before the op), else the reason. Does not change the model."""
    kind = op[0]
    if kind in ("append", "dvdelete", "compact"):
        if int(result.get("version", -1)) != model.version + 1:
            return f"committed v{result.get('version')}, expected v{model.version + 1}"
        if kind == "append" and result.get("skipped") not in (False, "false"):
            return "append skipped as a replay"
        if kind == "dvdelete" and int(result["deleted"]) != len(parse_ids(op[1])):
            return f"deleted {result['deleted']} rows, expected {len(parse_ids(op[1]))}"
        return None
    if kind == "point":
        v = int(op[1])
        got = [int(x) for x in result["ids"]]
        if v in model.live:
            return None if got == [v] else f"point {v}: live id, got {got}"
        if v in model.deleted:
            return None if got == [] else f"point {v}: deleted id, got {got}"
        return None if got == [] else f"point {v}: never inserted, got {got}"
    if kind == "range":
        lo, hi = int(op[1]), int(op[2])
        got = [int(x) for x in result["ids"]]
        if len(got) != len(set(got)):
            return f"range [{lo},{hi}]: duplicate ids"
        want = {i for i in model.live if lo <= i <= hi}
        if not want <= set(got):
            return f"range [{lo},{hi}]: missing live ids {sorted(want - set(got))[:5]}"
        extra = set(got) - want
        if extra:
            kind_of = "deleted" if extra & model.deleted else "never inserted"
            return f"range [{lo},{hi}]: {kind_of} ids {sorted(extra)[:5]}"
        return None
    if kind == "search":
        got = [int(x) for x in result["ids"]]
        scores = [float(s) for s in result["scores"]]
        if not 1 <= len(got) <= 10 or len(got) != len(set(got)):
            return f"search: {len(got)} ids, duplicates or none"
        dead = [i for i in got if i not in model.live]
        if dead:
            kind_of = "deleted" if any(i in model.deleted for i in dead) else "absent"
            return f"search: {kind_of} ids {dead[:5]} in the top-10"
        if any(a < b for a, b in zip(scores, scores[1:])):
            return "search: scores not in descending order"
        return None
    if kind == "latest":
        n, s = int(result["count"]), int(result["id_sum"])
        if n != len(model.live) or s != sum(model.live):
            return (f"latest: count {n} id sum {s}, expected "
                    f"{len(model.live)} and {sum(model.live)}")
        return None
    return f"unknown op kind {kind}"


def check_index_run(timed_ops, records, model):
    """Replay the executed ops (records, in order, each naming its index
    into timed_ops) through `model`, the index as the set-up left it. Returns {op index: reason} for
    every wrong answer, the live set before each search (for recall) and
    the final model."""
    wrong = {}
    live_at_search = {}
    for rec in records:
        i = rec["i"]
        op = timed_ops[i][1:]
        if rec.get("error") is None:
            reason = check_index_op(model, op, rec["result"])
            if reason:
                wrong[i] = reason
            if op[0] == "search":
                live_at_search[i] = set(model.live)
        model.apply(op)
    return wrong, live_at_search, model


def exact_top10(vectors, live, query_id):
    """Ids of the exact cosine top-10 over the live set, scored and ordered
    as graft's search: cosine rounded to 4 places, ties by ascending id."""
    import numpy as np
    ids = np.array(sorted(live), dtype=np.int64)
    mat = np.stack([vectors[i] for i in ids])
    q = vectors[query_id]
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(ids)), key=lambda k: (-round(float(cos[k]), 4), ids[k]))
    return [int(ids[k]) for k in order[:10]]


def load_vectors(data_dir):
    import duckdb
    import numpy as np
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{data_dir}/embeddings.parquet')"
    ).fetchall()
    return {int(i): np.array(v, dtype=np.float64) for i, v in rows}
