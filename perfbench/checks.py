"""Output checks of the benchmark, made with DuckDB apart from graft.

Every check compares graft's output (parquet written by the harness
after the timed passes) with a result computed here from the same
tables:

* rows with a repo oracle: the oracle SQL (``SparkEntry.oracleSql``),
  compared in ``scripts/check.py``'s canonical form: column names,
  dtypes, row count and values (each value cast to text, which is
  exact for doubles);
* six all-pairs dedup rows: the same definition written as a shingle
  join (``shingle_sql``), because the repo's all-pairs oracles do not
  finish at sf0.1;
* ``q_ann_ivf`` / ``q_ann_ivfpq``: recall of the exact top-k pairs, with
  the spec floors;
* the ingest shards: the ``q_quality_ensemble`` oracle's keep set once
  per copy, with ``token_ids`` matching the ``q_bpe_ids_bytes`` oracle.

Oracle results depend only on the tables and the oracle text, so they
are cached in a DuckDB file keyed by both; graft's outputs are never
stored.
"""
import hashlib

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# dedup rows checked against the shingle-join form instead of the repo oracle
SHINGLE_ROWS = ["q_dedup_ngram_jaccard", "q_dedup_minhash_lsh", "q_dedup_containment",
                "q_dedup_clusters", "q_dedup_keep", "q_dedup_incremental"]
# recall floors of AnnOpsSpec and AnnPqSpec
RECALL_ROWS = {"q_ann_ivf": 0.5, "q_ann_ivfpq": 0.3}


# where DuckDB may spill (run.py points it into the checkout's build dir)
TEMP_DIR = None


def connect(path=":memory:", threads=4):
    con = duckdb.connect(path)
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '3GB'")
    if TEMP_DIR:
        con.execute(f"SET temp_directory = '{TEMP_DIR}'")
    return con


def attach_tables(con, sf_dir):
    """Views over the test tables, with the documents loader seam of
    ``Tables.documents`` (vertical tab -> space), as scripts/check.py."""
    for t in TABLES:
        src = f"'{sf_dir}/{t}.parquet'"
        if t == "documents":
            con.execute(f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * REPLACE "
                        f"(replace(text, chr(11), ' ') AS text) FROM {src}")
        else:
            con.execute(f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * FROM {src}")


# ------------------------------------------------------- shingle-join form

def shingle_sql(row, c):
    """The six dedup rows' definition as a shingle join: distinct word
    3-gram sets, one row per (doc, shingle), joined on the shingle and
    counted, then the rows' jaccard / containment rule. Closure rows
    (clusters, keep) take the pairs from here and the components from
    ``closure``."""
    t = c["jaccard_threshold"]
    head = """WITH sh_t AS (
  SELECT doc_id,
    list_distinct(list_transform(range(len(w) - 2),
      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= 3),
post AS (SELECT doc_id, unnest(sh) AS s, CAST(len(sh) AS BIGINT) AS n FROM sh_t)"""

    def common(cond):
        return f"""{head},
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common,
    any_value(a.n) AS sa, any_value(b.n) AS sb
  FROM post a JOIN post b ON a.s = b.s AND {cond}
  GROUP BY a.doc_id, b.doc_id)"""

    jac = "CAST(common AS DOUBLE) / (sa + sb - common)"
    if row in ("q_dedup_ngram_jaccard", "q_dedup_minhash_lsh", "pairs"):
        return (common("a.doc_id < b.doc_id") +
                f"\nSELECT doc_a, doc_b, {jac} AS jaccard FROM common"
                f"\nWHERE {jac} >= {t} ORDER BY doc_a, doc_b")
    if row == "q_dedup_containment":
        ppm = c["containment_ppm"]
        return (common("a.doc_id < b.doc_id") + f"""
SELECT doc_a, doc_b, common,
  (common * 1000000) // least(sa, sb) AS containment_ppm,
  (common * 1000000) // (sa + sb - common) AS jaccard_ppm
FROM common WHERE (common * 1000000) // least(sa, sb) >= {ppm}
ORDER BY doc_a, doc_b""")
    if row == "q_dedup_incremental":
        return (common("a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0") +
                f"\nSELECT doc_a AS new_id, doc_b AS corpus_id, {jac} AS jaccard FROM common"
                f"\nWHERE {jac} >= {t} ORDER BY new_id, corpus_id")
    raise KeyError(row)


def closure(con, c):
    """Connected components of the near-dup pairs over every document:
    cluster = min doc_id reachable (the clusters oracle's definition),
    by union-find on the shingle-join pairs."""
    ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in con.sql(shingle_sql("pairs", c)).fetchall():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # roots are component minima because the smaller root always wins
    con.execute("CREATE OR REPLACE TEMP TABLE cl (doc_id BIGINT, cluster_id BIGINT)")
    con.executemany("INSERT INTO cl VALUES (?, ?)", [(i, find(i)) for i in ids])


CLOSURE_SQL = {
    "q_dedup_clusters": """SELECT doc_id, cluster_id, cluster_id = doc_id AS is_canonical
FROM cl ORDER BY doc_id""",
    "q_dedup_keep": """WITH sized AS (
  SELECT c.doc_id, c.cluster_id, CAST(length(d.text) AS BIGINT) AS text_len
  FROM cl c JOIN documents d ON c.doc_id = d.doc_id)
SELECT doc_id, cluster_id, text_len,
  count(*) OVER (PARTITION BY cluster_id) AS n_members,
  row_number() OVER (PARTITION BY cluster_id
    ORDER BY text_len DESC, doc_id ASC) = 1 AS keep
FROM sized ORDER BY doc_id""",
}


def reference_sql(row, c):
    """The text that defines a row's reference result: the shingle-join
    form for the six dedup rows (for the closure rows, the pair query
    followed by the closure query), else None (use the repo oracle)."""
    if row in CLOSURE_SQL:
        return shingle_sql("pairs", c) + "\n-- closure, then:\n" + CLOSURE_SQL[row]
    if row in SHINGLE_ROWS:
        return shingle_sql(row, c)
    return None


# ------------------------------------------------------------ oracle cache

def oracle_key(sql):
    return "o_" + hashlib.sha256(sql.encode()).hexdigest()[:20]


def build_oracles(db_path, sf_dir, dump, rows, log=print):
    """Materialize, once, the reference result of every row in `rows`
    (plus the exact ANN top-k that the recall checks need) as tables of
    a DuckDB file. Tables are keyed by the hash of their SQL."""
    c = dump["constants"]
    con = connect(db_path)
    attach_tables(con, sf_dir)
    have = {r[0] for r in con.sql("SELECT table_name FROM duckdb_tables()").fetchall()}
    for row in rows:
        if row in RECALL_ROWS:
            row = "q_ann_topk"
        sql = reference_sql(row, c) or dump["oracles"].get(row)
        if sql is None:
            continue
        key = oracle_key(sql)
        if key not in have:
            if row in CLOSURE_SQL:
                closure(con, c)
                sql = CLOSURE_SQL[row]
            con.execute(f"CREATE TABLE {key} AS {sql}")
            have.add(key)
            log(f"oracle {row} -> {key}")
    con.close()


def reference_table(row, dump):
    sql = reference_sql(row, dump["constants"]) or dump["oracles"].get(row)
    return None if sql is None else oracle_key(sql)


# ------------------------------------------------------------------ compare

def canonical(rel, cols):
    return ", ".join(f"CAST({rel}.\"{col}\" AS VARCHAR) AS \"{col}\"" for col in cols)


def compare(con, got, want):
    """None when relation `got` (graft's output) equals relation `want`
    (the reference) in names, dtypes, row count and values; else a
    one-line reason. Each is anything a FROM clause takes."""
    gt = {d[0]: str(d[1]) for d in con.sql(f"SELECT * FROM {got}").description}
    wt = {d[0]: str(d[1]) for d in con.sql(f"SELECT * FROM {want}").description}
    if sorted(gt) != sorted(wt):
        return f"columns {sorted(gt)} != {sorted(wt)}"
    bad = [(k, gt[k], wt[k]) for k in gt if gt[k] != wt[k]]
    if bad:
        return f"dtypes (col, graft, reference) {bad}"
    cols = sorted(gt)
    ng = con.sql(f"SELECT count(*) FROM {got}").fetchone()[0]
    nw = con.sql(f"SELECT count(*) FROM {want}").fetchone()[0]
    if ng != nw:
        return f"rows {ng} != {nw}"
    diff = con.sql(f"""SELECT count(*) FROM (
        SELECT {canonical('g', cols)} FROM {got} g
        EXCEPT ALL
        SELECT {canonical('w', cols)} FROM {want} w)""").fetchone()[0]
    return None if diff == 0 else f"{diff} of {ng} rows differ"


def parquet(out_dir):
    return f"read_parquet('{out_dir}/*.parquet')"


def recall(con, out_dir, exact_table):
    """Share of the exact top-k (query_id, neighbor_id) pairs present in
    graft's approximate output."""
    hit, total = con.sql(f"""SELECT count(g.query_id), count(*)
        FROM {exact_table} e LEFT JOIN
          (SELECT DISTINCT query_id, neighbor_id FROM {parquet(out_dir)}) g
          USING (query_id, neighbor_id)""").fetchone()
    return hit / total if total else 0.0


def check_rows(db_path, sf_dir, dump, outputs):
    """Check every row in `outputs` ({row: parquet dir}). Returns
    ({row: reason} for the rows that failed, {metric: value})."""
    con = connect(db_path, threads=4)
    attach_tables(con, sf_dir)
    failed, metrics = {}, {}
    for row, out in sorted(outputs.items()):
        try:
            if row in RECALL_ROWS:
                r = recall(con, out, reference_table("q_ann_topk", dump))
                metrics[f"AnnOps.{row[len('q_ann_'):]}_recall"] = r
                if r < RECALL_ROWS[row]:
                    failed[row] = f"recall {r:.3f} < {RECALL_ROWS[row]}"
                continue
            table = reference_table(row, dump)
            if table is None:
                failed[row] = "no reference result"
                continue
            why = compare(con, parquet(out), table)
            if why:
                failed[row] = why
        except Exception as e:  # a check that cannot run is a failed check
            failed[row] = f"check error: {e}"
    con.close()
    return failed, metrics


# ------------------------------------------------------------------ ingest

def plant_ids(dump):
    """n, sum and head of the ids the q_bpe_ids_bytes oracle appends to
    every doc_id % 7 = 0 (its fixed OOV word), from the same oracle run
    on a one-document corpus with empty text."""
    con = connect()
    con.execute("""CREATE TEMP VIEW documents AS SELECT CAST(7 AS BIGINT) AS doc_id,
        '' AS text, 'en' AS lang, 'web' AS source, CAST(0 AS BIGINT) AS n_chars""")
    r = con.sql(f"SELECT n_ids, head_ids, id_sum FROM ({dump['oracles']['q_bpe_ids_bytes']})"
                ).fetchone()
    con.close()
    return {"n": r[0], "head": r[1].split(" ") if r[1] else [], "sum": r[2]}


def check_shards(db_path, dump, shard_dir, expected_ids, shift):
    """The shards must hold exactly `expected_ids` (each once), and each
    row's token_ids must match the q_bpe_ids_bytes oracle on n_ids,
    head_ids and id_sum (without the oracle's planted tail for
    doc_id % 7 = 0). Returns a list of reasons (empty = pass)."""
    con = connect(db_path)
    bpe = reference_table("q_bpe_ids_bytes", dump)
    con.execute("CREATE TEMP TABLE want (doc_id BIGINT)")
    con.executemany("INSERT INTO want VALUES (?)", [(i,) for i in expected_ids])
    con.execute(f"""CREATE TEMP VIEW got AS SELECT doc_id, token_ids
        FROM read_parquet('{shard_dir}/**/*.parquet', hive_partitioning = true)""")
    bad = []
    dup = con.sql("SELECT count(*) FROM (SELECT doc_id FROM got GROUP BY 1 HAVING count(*) > 1)"
                  ).fetchone()[0]
    if dup:
        bad.append(f"{dup} doc_ids landed more than once")
    extra = con.sql("SELECT count(*) FROM (SELECT doc_id FROM got EXCEPT SELECT doc_id FROM want)"
                    ).fetchone()[0]
    missing = con.sql("SELECT count(*) FROM (SELECT doc_id FROM want EXCEPT SELECT doc_id FROM got)"
                      ).fetchone()[0]
    if extra or missing:
        bad.append(f"{extra} unexpected and {missing} missing docs")
    plant = plant_ids(dump)
    rows = con.sql(f"""SELECT g.doc_id % {shift} AS id, len(g.token_ids) AS n,
          array_to_string(g.token_ids[1:8], ' ') AS head, list_sum(g.token_ids) AS s,
          b.n_ids, b.head_ids, b.id_sum
        FROM got g LEFT JOIN {bpe} b ON g.doc_id % {shift} = b.doc_id""").fetchall()
    wrong = 0
    for oid, n, head, s, on, ohead, osum in rows:
        if on is None:
            wrong += 1
            continue
        head = head.split(" ") if head else []
        ohead = ohead.split(" ") if ohead else []
        if oid % 7 == 0:
            on, osum = on - plant["n"], osum - plant["sum"]
            ohead = ohead[:min(n, 8)] if ohead[min(n, 8):] == plant["head"][:8 - min(n, 8)] \
                else ohead + ["<plant mismatch>"]
        if (n, head, s) != (on, ohead, osum):
            wrong += 1
    if wrong:
        bad.append(f"{wrong} of {len(rows)} shard rows differ from the q_bpe_ids_bytes oracle")
    if not expected_ids:
        bad.append("the oracle keeps no document")
    con.close()
    return bad


def keep_ids(db_path, dump):
    con = connect(db_path)
    ens = reference_table("q_quality_ensemble", dump)
    ids = [r[0] for r in con.sql(f"SELECT doc_id FROM {ens} WHERE keep ORDER BY 1").fetchall()]
    con.close()
    return ids
