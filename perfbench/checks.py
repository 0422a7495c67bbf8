"""Correctness checks, recomputed independently in DuckDB from the
workflow's inputs and the files the CLI wrote. Each check returns
(name, ok, detail)."""

import glob
import json

import duckdb


def _one(con, sql, *params):
    return con.execute(sql, list(params)).fetchone()


def check_recsys(inp, out, spans):
    con = duckdb.connect()
    con.execute(f"""
        CREATE VIEW gt AS
        SELECT o.o_custkey AS user_id, l.l_partkey AS business_id,
               avg((CAST(l.l_quantity AS BIGINT) % 5) + 1) AS stars
        FROM '{inp}/lineitem.parquet' l JOIN '{inp}/orders.parquet' o
          ON l.l_orderkey = o.o_orderkey
        GROUP BY ALL""")
    (pairs,) = _one(con, f"""
        SELECT (SELECT count(*) FROM '{inp}/customer.parquet' WHERE c_custkey % 19 = 0) *
               (SELECT count(*) FROM '{inp}/part.parquet' WHERE p_partkey % 23 = 0)""")
    results = []
    for model, lo, hi in (("itemcf", 1.0, 5.0), ("als", -10.0, 15.0)):
        files = glob.glob(f"{out}/pred_{model}/*.json")
        if not files:
            results.append((f"{model}.predictions", False, "no prediction files"))
            continue
        con.execute(f"""CREATE OR REPLACE VIEW p AS
            SELECT user_id, business_id, CAST(stars AS DOUBLE) AS pred
            FROM read_json_auto({files!r})""")
        n, distinct, bad = _one(con, f"""
            SELECT count(*), count(DISTINCT (user_id, business_id)),
                   count(*) FILTER (WHERE pred IS NULL OR isnan(pred)
                                    OR pred < {lo} OR pred > {hi})
            FROM p""")
        results.append((f"{model}.prediction_count", n == pairs and distinct == n,
                        f"{n} rows, {distinct} distinct pairs, expected {pairs}"))
        results.append((f"{model}.prediction_range", bad == 0,
                        f"{bad} predictions outside [{lo}, {hi}]"))
        rmse, missing = _one(con, """
            SELECT (SELECT sqrt(avg((p.pred - gt.stars) ^ 2)) FROM p JOIN gt USING (user_id, business_id)),
                   (SELECT count(*) FROM gt ANTI JOIN p USING (user_id, business_id))""")
        reported = _span_result(spans, f"evaluate.{model}")
        try:
            rep = json.loads(reported)
            ok = (rmse is not None and abs(float(rep["rmse"]) - rmse) <= 1e-5
                  and int(rep["missing_pairs"]) == missing)
            detail = f"reported {rep}, recomputed rmse={rmse:.6f} missing_pairs={missing}"
        except (ValueError, KeyError, TypeError):
            ok, detail = False, f"unparseable evaluate output {reported!r}"
        results.append((f"{model}.rmse", ok, detail))
    return results


def check_curate(inp, out, spans):
    con = duckdb.connect()
    results = []
    stats = _read_json(f"{out}/curated/stats.json")
    n_in, n_exact = _one(con, f"""
        SELECT count(*), count(DISTINCT md5(text)) FROM '{inp}/corpus/documents.parquet'""")
    results.append(("curate.input_count", stats.get("n_input") == n_in,
                    f"reported {stats.get('n_input')}, recomputed {n_in}"))
    results.append(("curate.exact_survivors", stats.get("n_after_exact") == n_exact,
                    f"reported {stats.get('n_after_exact')}, distinct md5 groups {n_exact}"))
    ing = _read_json(f"{out}/ingested/ingest_stats.json")
    corpus = glob.glob(f"{out}/curated/corpus/*.parquet")
    if corpus:
        n_inc, n_dup = _one(con, f"""
            SELECT count(*), count(*) FILTER (WHERE md5(text) IN
                       (SELECT md5(text) FROM read_parquet({corpus!r})))
            FROM '{inp}/incoming/*.parquet'""")
    else:
        n_inc, n_dup = None, None
    results.append(("ingest.exact_dups", ing.get("n_exact_dup") == n_dup
                    and ing.get("n_incoming") == n_inc,
                    f"reported {ing.get('n_exact_dup')}/{ing.get('n_incoming')}, "
                    f"recomputed {n_dup}/{n_inc}"))
    parts = [ing.get(k) for k in ("n_exact_dup", "n_near_dup", "n_admitted")]
    results.append(("ingest.verdicts_partition", None not in parts and sum(parts) == n_inc,
                    f"exact+near+admitted = {parts}, incoming {n_inc}"))
    return results


CHECKS = {"recsys": check_recsys, "curate": check_curate}


def _read_json(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _span_result(spans, name):
    return next((s["result"] for s in spans if s["name"] == name), "")


def run_checks(workload, inp, out, spans):
    try:
        return CHECKS[workload](inp, out, spans)
    except duckdb.Error as e:
        return [(f"{workload}.checks", False, f"duckdb error: {e}")]
