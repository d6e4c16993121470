"""Output checks: DuckDB recomputes each workload's result from the same
generated files and compares it with what the engine wrote."""
import glob
import json
import os

import duckdb

import gen

# Rows older than this never reach the window counts: the planted very late
# events sit an hour before T0, far behind every watermark that reads them.
LATE_CUTOFF_US = gen.T0_US - 1_800_000_000
WINDOW_US = 60_000_000
# Graph.reachSketch's defaults: m registers, hash range H = 2^40.
SKETCH_M = 64
SKETCH_H = 1 << 40


class CheckFailed(Exception):
    pass


def _con(tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con


def _log_entries(log_dir):
    """Entries of a Spark metadata log (N and N.compact files, JSON lines
    after a version header)."""
    out = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        name = os.path.basename(path)
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    out.append(json.loads(line))
    return out


def sink_files(out_dir):
    """Parquet files the streaming sink committed (its _spark_metadata)."""
    files = {e["path"] for e in _log_entries(os.path.join(out_dir,
                                                          "_spark_metadata"))
             if e.get("action", "add") == "add"}
    return sorted(p[len("file:"):] if p.startswith("file:") else p
                  for p in files)


def _read_sink(con, table, out_dir, cols, empty):
    files = sink_files(out_dir)
    if files:
        listed = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE TABLE {table} AS SELECT {cols} "
                    f"FROM read_parquet([{listed}])")
    else:
        con.execute(f"CREATE TABLE {table} ({empty})")


def ingest(in_files, run, tmp_dir):
    """Checks one stream run (both consumer queries); returns its dedup
    recall: planted duplicates removed / planted duplicates.

    - each query read every released row (sum of numInputRows), and its
      observed error rows equal the planted count: the replay's
      event_id % 97 slice plus the truncated JSON payloads;
    - the dedup sink holds each valid, non-late event exactly once;
    - every emitted window count equals DuckDB's count of valid, non-late
      rows, and every window the final watermark closed is emitted.
    """
    con = _con(tmp_dir)
    files = ", ".join(f"'{f}'" for f in in_files)
    con.execute(f"CREATE VIEW ev AS SELECT *, epoch_us(ts) AS us, "
                f"(event_id % 97 = 0 OR right(props, 1) <> '}}') AS err "
                f"FROM read_parquet([{files}])")
    rows, errors = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE err) FROM ev").fetchone()
    con.execute(f"CREATE TABLE valid AS SELECT * FROM ev "
                f"WHERE NOT err AND us >= {LATE_CUTOFF_US}")
    queries = {q["name"]: q for q in run["queries"]}
    for name, q in queries.items():
        got_rows = sum(p["numInputRows"] for p in q["progress"])
        got_errors = sum(int(p.get("observedMetrics", {}).get("ingest", {})
                             .get("errors", 0)) for p in q["progress"])
        if got_rows != rows:
            raise CheckFailed(f"{name}: rows in {got_rows} != rows released "
                              f"{rows}")
        if got_errors != errors:
            raise CheckFailed(f"{name}: error rows {got_errors} != planted "
                              f"{errors}")

    _read_sink(con, "uniq", queries["dedup"]["out"], '"offset" AS id',
               "id BIGINT")
    bad = con.execute("""SELECT count(*) FROM (
        (SELECT DISTINCT event_id FROM valid EXCEPT SELECT id FROM uniq)
        UNION ALL (SELECT id FROM uniq EXCEPT SELECT event_id FROM valid)
        )""").fetchone()[0]
    valid_rows, distinct_ids, kept = con.execute(
        "SELECT (SELECT count(*) FROM valid), "
        "(SELECT count(DISTINCT event_id) FROM valid), "
        "(SELECT count(*) FROM uniq)").fetchone()
    if bad or kept != distinct_ids:
        raise CheckFailed(f"dedup: {bad} ids differ, {kept} rows kept for "
                          f"{distinct_ids} distinct events")

    counts = queries["counts"]
    con.execute(f"""CREATE TABLE expected AS
        SELECT us - us % {WINDOW_US} AS bucket, event_type AS key,
               count(*) AS n FROM valid GROUP BY ALL""")
    _read_sink(con, "got", counts["out"],
               "epoch_us(bucket) AS bucket, key, n",
               "bucket BIGINT, key VARCHAR, n BIGINT")
    dup_keys = con.execute("SELECT count(*) FROM (SELECT bucket, key FROM got "
                           "GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
    wrong = con.execute("""SELECT count(*) FROM got g LEFT JOIN expected e
        USING (bucket, key) WHERE e.n IS NULL OR e.n <> g.n""").fetchone()[0]
    watermarks = [p["eventTime"].get("watermark") for p in counts["progress"]
                  if p.get("eventTime", {}).get("watermark")]
    wm_us = con.execute("SELECT coalesce(max(epoch_us(w::TIMESTAMPTZ)), 0) "
                        "FROM unnest(?::VARCHAR[]) t(w)",
                        [watermarks]).fetchone()[0]
    # one window of slack: a window is evicted by the batch after the one
    # whose watermark first passes its end
    missing = con.execute(f"""SELECT count(*) FROM expected e LEFT JOIN got g
        USING (bucket, key) WHERE g.n IS NULL
        AND e.bucket + {2 * WINDOW_US} <= {wm_us}""").fetchone()[0]
    emitted = con.execute("SELECT count(*) FROM got").fetchone()[0]
    if dup_keys or wrong or missing or not emitted:
        raise CheckFailed(f"window counts: {wrong} wrong, {missing} missing, "
                          f"{dup_keys} duplicated keys of {emitted} emitted")
    planted = valid_rows - distinct_ids
    return (valid_rows - kept) / planted if planted else 1.0


def curation(corpus, truth, out, tmp_dir):
    """Exact-dedup survivors equal DuckDB's; the split never separates a
    cluster; returns the share of planted near-duplicate pairs found."""
    con = _con(tmp_dir)
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM '{corpus}'")
    for name in ("filtered", "exact", "minhash_pairs", "embedding_pairs",
                 "split"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{out}/{name}/*.parquet')")
    diff = con.execute("""SELECT count(*) FROM (
        (SELECT min(doc_id) FROM corpus JOIN filtered USING (doc_id)
         GROUP BY text EXCEPT SELECT doc_id FROM exact)
        UNION ALL
        (SELECT doc_id FROM exact EXCEPT SELECT min(doc_id) FROM corpus
         JOIN filtered USING (doc_id) GROUP BY text))""").fetchone()[0]
    if diff:
        raise CheckFailed(f"exact dedup: {diff} survivors differ from DuckDB")
    torn = con.execute("""SELECT count(*) FROM (SELECT cluster_id FROM split
        GROUP BY cluster_id HAVING count(DISTINCT split) > 1)""").fetchone()[0]
    if torn:
        raise CheckFailed(f"leak-free split: {torn} clusters span two splits")
    exact = {r[0] for r in con.execute("SELECT doc_id FROM exact").fetchall()}
    found = {tuple(r) for r in con.execute(
        "SELECT a, b FROM minhash_pairs UNION SELECT a, b FROM "
        "embedding_pairs").fetchall()}
    planted = [tuple(p) for p in truth["text_pairs"] + truth["semantic_pairs"]
               if p[0] in exact and p[1] in exact]
    if not planted:
        raise CheckFailed("no planted pair survived the filters")
    sem_found = sum(1 for p in truth["semantic_pairs"] if tuple(p) in found)
    return {"recall": sum(1 for p in planted if p in found) / len(planted),
            "similarity_recall": sem_found / len(truth["semantic_pairs"])}


def graph(in_dir, out, tmp_dir, k, tolerance=0.5):
    """k-hop counts equal a DuckDB recursive-CTE BFS for both seed sets; the
    delta-only reach sketch equals the estimate DuckDB derives from the
    exact balls with the same register hash. Returns the share of sketch
    estimates within `tolerance` of the exact ball size."""
    con = _con(tmp_dir)
    con.execute(f"CREATE TABLE e AS SELECT * FROM '{in_dir}/edges.parquet'")
    for name in ("small", "large"):
        con.execute(f"""CREATE TABLE ball_{name} AS
            WITH RECURSIVE bfs(seed, node, d) AS (
              SELECT seed, seed, 0 FROM '{in_dir}/seeds_{name}.parquet'
              UNION
              SELECT b.seed, e.dst, b.d + 1 FROM bfs b JOIN e ON e.src = b.node
              WHERE b.d < {k})
            SELECT seed, node, min(d) AS dist FROM bfs GROUP BY ALL""")
        diff = con.execute(f"""
            WITH exact AS (SELECT seed, dist, count(*) AS n_nodes
              FROM ball_{name} WHERE dist > 0 GROUP BY ALL),
            got AS (SELECT seed, dist, n_nodes
              FROM '{out}/khop_{name}/*.parquet')
            SELECT count(*) FROM ((FROM exact EXCEPT FROM got)
              UNION ALL (FROM got EXCEPT FROM exact))""").fetchone()[0]
        if diff:
            raise CheckFailed(f"k-hop counts ({name} seeds): {diff} rows differ "
                              "from the DuckDB BFS")
    # Graph.reachSketch: register j of node x is md5Long(j || ':' || x)
    # mod H; a ball's register is the minimum over its nodes, and the
    # estimate is floor(m * H / sum of registers - 1 + 0.5)
    regs = ", ".join(
        f"('0x' || substr(md5('{j}:' || node::VARCHAR), 1, 15))::BIGINT"
        f" % {SKETCH_H} AS r{j}" for j in range(SKETCH_M))
    con.execute(f"""CREATE TABLE regs AS SELECT node, {regs}
        FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)""")
    mins = ", ".join(f"min(r{j}) AS r{j}" for j in range(SKETCH_M))
    total = " + ".join(f"r{j}" for j in range(SKETCH_M))
    con.execute(f"""CREATE TABLE sketch AS
        WITH ring AS (SELECT seed, dist, {mins}
          FROM ball_small JOIN regs USING (node) GROUP BY ALL),
        cum AS (SELECT seed, d.dist, {mins}
          FROM ring JOIN range(1, {k + 1}) d(dist) ON ring.dist <= d.dist
          GROUP BY ALL)
        SELECT seed, dist, floor(({SKETCH_M * SKETCH_H})::DOUBLE
          / greatest({total}, 1)::DOUBLE - 1.0 + 0.5)::BIGINT AS est_reach
        FROM cum""")
    diff = con.execute(f"""
        WITH got AS (SELECT seed, dist, est_reach
          FROM '{out}/reach_delta/*.parquet')
        SELECT count(*) FROM ((FROM sketch EXCEPT FROM got)
          UNION ALL (FROM got EXCEPT FROM sketch))""").fetchone()[0]
    if diff:
        raise CheckFailed(f"delta-only reach sketch: {diff} rows differ from "
                          "the DuckDB register grid")
    n, ok = con.execute(f"""
        WITH size AS (SELECT seed, d.dist, count(*) AS size
          FROM ball_small b JOIN range(1, {k + 1}) d(dist) ON b.dist <= d.dist
          GROUP BY ALL)
        SELECT count(*), count(*) FILTER (WHERE
          abs(s.est_reach - z.size) <= {tolerance} * z.size)
        FROM sketch s JOIN size z USING (seed, dist)""").fetchone()
    if n == 0:
        raise CheckFailed("reach sketch produced no estimates")
    return ok / n
