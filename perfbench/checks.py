"""Untimed correctness checks of a perfbench run, after its stream.

The driver JVM checks what needs its own state (append reconciliation,
deleted ids, recall against brute force, searchAll against a brute-force
filter, admission outcomes, identical rows in every round). This module
checks the rest with DuckDB: the rows each checked op returned in the first
round are compared with DuckDB over the same inputs (the generated files,
or for warehouse_etl the files the engine published), using the catalog's
oracle SQL where the op has a catalog twin and the compare rules of
tools/check_oracle.py.
"""
import datetime as dt
import glob
import importlib.util
import os

import duckdb
import pandas as pd


def _oracle_rules():
    path = os.path.join(os.getcwd(), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _dates_to_text(df):
    """DATE columns arrive as datetime64 from DuckDB and as date objects
    from parquet; compare both as ISO text."""
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "M":
            df[c] = s.dt.strftime("%Y-%m-%d").where(s.notna(), None)
        elif s.dtype == object and any(isinstance(v, dt.date)
                                       for v in s.dropna().head(5)):
            df[c] = s.map(lambda v: None if v is None else v.isoformat())
    return df


def compare(rules, spark_df, duck_df):
    """None when equal under check_oracle's rules, else a reason."""
    a = rules.canon(_dates_to_text(spark_df))
    b = rules.canon(_dates_to_text(duck_df))
    if list(a.columns) != list(b.columns):
        return f"cols {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        ka, kb = rules.typekind(av), rules.typekind(bv)
        if ka != kb and (ka in rules.NUMERIC_KINDS or kb in rules.NUMERIC_KINDS):
            return f"{c}: type {ka} != {kb}"
        eq = (av.astype(object).where(pd.notna(av), None) ==
              bv.astype(object).where(pd.notna(bv), None)) | \
            (pd.isna(av) & pd.isna(bv))
        if not eq.all():
            i = int((~eq).idxmax())
            return f"{c}[{i}]: {av.iloc[i]!r} != {bv.iloc[i]!r}"
    return None


def _kept(res, key):
    files = glob.glob(os.path.join(res["checks_dir"], key, "*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


# ── warehouse_etl: DuckDB over the files the engine published ─────────

def _completion(data, complete, nesting, measure):
    keys = nesting + complete
    return f"""
      dims AS (SELECT DISTINCT {', '.join(complete)} FROM {data}),
      grps AS (SELECT DISTINCT {', '.join(nesting)} FROM {data}),
      completed AS (SELECT {', '.join('g.' + k for k in nesting)},
          {', '.join('d.' + k for k in complete)},
          COALESCE(x.{measure}, 0.0) AS {measure}
        FROM grps g CROSS JOIN dims d
        LEFT JOIN {data} x USING ({', '.join(keys)}))"""


ETL_SQL = {
    "etl.groupedCompletion": "WITH pct AS (SELECT survey_ID, grid_point, "
        "intercept_ground_code, COUNT(intercept_1) / 2 AS intercepts_pct "
        "FROM ground GROUP BY 1, 2, 3)," +
        _completion("pct", ["intercept_ground_code"], ["survey_ID", "grid_point"],
                    "intercepts_pct") + " SELECT * FROM completed",
    "etl.groundCover": "WITH counted AS (SELECT survey_ID, grid_point, "
        "intercept_ground_code, COUNT(intercept_1) / 2 AS intercepts_pct "
        "FROM ground WHERE intercept_ground_code <> 'NA' GROUP BY 1, 2, 3)," +
        _completion("counted", ["intercept_ground_code"],
                    ["survey_ID", "grid_point"], "intercepts_pct") + """
      SELECT c.survey_ID, c.grid_point, s.year, s.date, s.survey_sequence,
             c.intercept_ground_code, m.ground_group, c.intercepts_pct
      FROM completed c LEFT JOIN code_meta m USING (intercept_ground_code)
      LEFT JOIN survey_meta s USING (survey_ID)
      WHERE s.year > 2022 AND c.grid_point <> 586""",
    "etl.joinYear": """
      SELECT year, COUNT(*) AS n FROM (SELECT survey_ID FROM ground)
      JOIN survey_meta USING (survey_ID) GROUP BY year""",
    "etl.dateDiagnostics": """
      WITH sp AS (SELECT DISTINCT survey_ID, date AS species_date FROM species),
      md AS (SELECT DISTINCT survey_ID, date AS metadata_date FROM survey_meta),
      it AS (SELECT DISTINCT survey_ID, date AS intercept_date FROM foliar),
      gd AS (SELECT DISTINCT survey_ID, date AS ground_date FROM ground),
      j AS (SELECT * FROM sp LEFT JOIN md USING (survey_ID)
            LEFT JOIN it USING (survey_ID) LEFT JOIN gd USING (survey_ID)),
      s AS (SELECT *, CASE WHEN species_date > DATE '2030-01-01' THEN 'Future Date'
                           WHEN species_date <> metadata_date THEN 'Date Mismatch'
                           ELSE 'Match' END AS status FROM j)
      SELECT *, COUNT(*) OVER (PARTITION BY status) AS category_count FROM s""",
}
# published tables the engine derived, against DuckDB over their sources
ETL_TABLES = {
    "species_fixed": """
      SELECT f.survey_ID, f.grid_point,
        CASE WHEN f.date > DATE '2030-01-01' AND m.date IS NOT NULL
             THEN CAST(year(m.date) AS INTEGER) ELSE f.year END AS year,
        f.key_plant_species,
        CASE WHEN f.date > DATE '2030-01-01' AND m.date IS NOT NULL
             THEN m.date ELSE f.date END AS date
      FROM species f LEFT JOIN (SELECT survey_ID, date FROM survey_meta) m
        USING (survey_ID)""",
    "species_clean": """
      SELECT * FROM species_fixed
      WHERE grid_point IS NOT NULL AND key_plant_species IS NOT NULL""",
}


def _check_etl(con, rules, inputs, facts, res, bad):
    tables = res["facts"]["tables"]
    for t, path in tables.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{path}/*.parquet')")
    n = 0
    for key, sql in ETL_SQL.items():
        n += 1
        got = _kept(res, key)
        why = "no rows kept" if got is None else \
            compare(rules, got, con.execute(sql).df())
        if why:
            bad.append(f"{key}: {why}")
    for t, sql in ETL_TABLES.items():
        n += 1
        why = compare(rules, con.execute(f"SELECT * FROM {t}").df(),
                      con.execute(sql).df())
        if why:
            bad.append(f"published {t}: {why}")
    # the final key set: every input row once, nothing else
    n += 1
    why = compare(rules, con.execute("SELECT * FROM ground").df(),
                  con.execute(f"""SELECT DISTINCT * FROM (
                      SELECT * FROM '{inputs}/ground.parquet' UNION ALL
                      SELECT * FROM '{inputs}/batch.parquet')""").df())
    if why:
        bad.append(f"final ground table: {why}")
    for rnd, _incoming, appended in res["facts"]["appended"]:
        n += 1
        if appended != facts["expected_new"]:
            bad.append(f"round {rnd}: appended {appended}, "
                       f"expected {facts['expected_new']}")
    return n


# ── corpus_kernels: catalog oracle SQL over the generated tables ──────

def _check_corpus(con, rules, inputs, facts, res, bad):
    for t in ("documents", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    n = 0
    answers = {}
    for key, sql in res["oracle_sql"].items():
        n += 1
        got = _kept(res, key)
        if sql not in answers:
            answers[sql] = con.execute(sql).df()
        why = "no rows kept" if got is None else \
            compare(rules, got, answers[sql])
        if why:
            bad.append(f"{key}: {why}")
    # MinHash LSH has no exact oracle: it must find every exact duplicate
    # pair, and every pair it returns must be a real near-duplicate
    tok = ("list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),"
           " x -> x <> '')")
    con.execute(f"""CREATE VIEW sh AS WITH t AS (SELECT doc_id, {tok} AS toks
        FROM documents) SELECT doc_id, list_distinct(
          [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])
          AS s FROM t""")
    exact = {tuple(r) for r in con.execute(
        """SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
           ON a.text = b.text AND a.doc_id < b.doc_id""").fetchall()}
    n += 1
    got = _kept(res, "corpus.minHashLSH")
    if got is None:
        bad.append("corpus.minHashLSH: no rows kept")
    else:
        a, b = got.columns[0], got.columns[1]
        pairs = {(min(x, y), max(x, y)) for x, y in zip(got[a], got[b])}
        con.register("pairs_df", pd.DataFrame(sorted(pairs), columns=["x", "y"]))
        low = con.execute("""SELECT count(*) FROM pairs_df p
            JOIN sh a ON a.doc_id = p.x JOIN sh b ON b.doc_id = p.y
            WHERE len(list_intersect(a.s, b.s)) * 10 <
                  3 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
            """).fetchone()[0]
        missing = len(exact - pairs)
        if low or missing:
            bad.append(f"corpus.minHashLSH: {low} pairs below Jaccard 0.3, "
                       f"{missing} exact duplicate pairs missing")
    con.execute(f"CREATE VIEW edges AS SELECT * FROM '{inputs}/edges.parquet'")
    n += 1
    got = _kept(res, "graph.labelPropagation")
    why = "no rows kept" if got is None else \
        compare(rules, got, con.execute(_label_propagation_sql(2)).df())
    if why:
        bad.append(f"graph.labelPropagation: {why}")
    return n


# ── label propagation: the catalog's integer recurrence over the sample ──

def _label_propagation_sql(iters):
    """The catalog's q173 recurrence over the generated edge set."""
    ctes = ",\n".join(
        f"""c{k} AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
              FROM ev e JOIN l{k - 1} l ON l.node = e.src GROUP BY 1, 2),
            w{k} AS (SELECT node, label FROM (SELECT node, label,
              row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC)
              AS rn FROM c{k}) WHERE rn = 1),
            l{k} AS (SELECT n.node, COALESCE(w.label, n.label) AS label
              FROM l{k - 1} n LEFT JOIN w{k} w ON w.node = n.node)"""
        for k in range(1, iters + 1))
    return f"""WITH s AS (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
          WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
        nodes AS (SELECT src AS node FROM s UNION SELECT dst FROM s),
        ev AS (SELECT src, dst FROM s UNION ALL SELECT node, node FROM nodes),
        l0 AS (SELECT node, node AS label FROM nodes),
        {ctes}
        SELECT node, label FROM l{iters}"""


CHECKS = {"warehouse_etl": _check_etl, "corpus_kernels": _check_corpus}


def check(workload, inputs, facts, res):
    """{"checked", "wrong", "problems"} over the JVM's and DuckDB's checks."""
    bad = list(res["problems"])
    checked, wrong = res["checked"], res["wrong"]
    if workload in CHECKS:
        rules = _oracle_rules()
        con = duckdb.connect()
        local = []
        try:
            checked += CHECKS[workload](con, rules, inputs, facts, res, local)
        finally:
            con.close()
        wrong += len(local)
        bad += local
    return {"checked": checked, "wrong": wrong, "problems": bad}
