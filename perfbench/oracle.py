"""Correctness side of the benchmark: canonical fingerprints and the
DuckDB oracles.

`fingerprint` renders a table the same way as the Scala side
(`Fingerprint.scala`): columns sorted by name, floats at 6 decimal places
(half-even on the exact binary value), nulls as NULL, lists element-wise in
order, booleans lower-case; rows sorted; SHA-256 over the lines. Float32
vectors are compared bit for bit instead (the pipeline's embeddings).

`pipeline_expected` computes what a `pipeline_scaled` flow must produce for
a generated fixture, independently of Spark: the merged table by a DuckDB
query that mirrors the clean → top-20 → enrich → merge semantics, the
density clusters by union-find over the LSH candidate pairs that the
engine's own DuckDB mirror of the bucket kernel yields, and the IVF index
rows. The suite's results are checked against their registered oracle SQL
by the repository's own `tools/check_oracle.py` (see run.py's --regen).
"""
import glob
import hashlib
import os

import duckdb
import pyarrow as pa


def _render(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Inf" if v > 0 else "-Inf"
        s = f"{v:.6f}"
        return "0.000000" if s == "-0.000000" else s
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(_render(x) for x in v.values()) + ")"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _column(col):
    """A column's rendered values. Lists of float32 without nulls (vectors,
    which pass through the engine unchanged) render as their exact bytes:
    stricter than 6 places, and fast."""
    col = col.combine_chunks()
    if (pa.types.is_list(col.type) and pa.types.is_float32(col.type.value_type)
            and col.values.null_count == 0):
        offsets = col.offsets.to_numpy()
        values = col.values.to_numpy()
        valid = col.is_valid().to_pylist()
        return ["f32:" + values[offsets[i]:offsets[i + 1]].tobytes().hex() if valid[i] else "NULL"
                for i in range(len(col))]
    return [_render(v) for v in col.to_pylist()]


def fingerprint(table):
    """(sha256, rows) of a pyarrow table, order-independent."""
    cols = [_column(table.column(n)) for n in sorted(table.column_names)]
    lines = sorted("\x01".join(c[i] for c in cols) for i in range(table.num_rows))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest(), len(lines)


def read_dir(path, hive=False):
    """A Spark output directory as one pyarrow table; with `hive`, its
    `key=value` partition directories become columns."""
    con = duckdb.connect()
    src = os.path.join(path, "*=*" if hive else "", "*.parquet")
    return con.execute(
        f"SELECT * FROM read_parquet('{src}', hive_partitioning = {str(hive).lower()})").arrow()


def _views(con, inputs):
    """One view per table: a parquet file, or a directory of part files."""
    for f in glob.glob(os.path.join(inputs, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        src = os.path.join(f, "*.parquet") if os.path.isdir(f) else f
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")


MERGED_SQL = """
WITH rp AS (
  SELECT DISTINCT 'reddit' AS platform, subreddit AS community, id AS id_post, title,
         selftext AS body, score, num_comments FROM reddit_posts),
sp AS (
  SELECT 'stack' AS platform, site AS community, question_id::VARCHAR AS id_post, title,
         qbody AS body, score, answer_count AS num_comments FROM stack_posts),
posts AS (
  SELECT * FROM rp UNION ALL SELECT * FROM sp),
keep AS (
  SELECT * FROM posts
  WHERE title IS NOT NULL AND length(trim(title)) > 0
    AND title NOT IN ('[deleted]', '[removed]') AND coalesce(num_comments, 0) >= 2),
com AS (
  SELECT cid AS id_comment, parent AS parent_post_id, cscore AS score, text AS body
  FROM reddit_comments
  UNION ALL
  SELECT answer_id::VARCHAR, parent, ascore, abody FROM stack_comments),
clean AS (
  SELECT * FROM com
  WHERE body NOT IN ('[deleted]', '[removed]') AND NOT regexp_matches(body, $bots)),
top AS (
  SELECT id_comment, parent_post_id FROM (
    SELECT id_comment, parent_post_id, row_number() OVER (
      PARTITION BY parent_post_id ORDER BY score DESC, id_comment ASC) AS rn
    FROM clean) WHERE rn <= 20),
agg AS (
  SELECT parent_post_id, list_sort(list(id_comment)) AS comment_ids FROM top GROUP BY 1)
SELECT k.platform, k.community, k.id_post, k.title, k.body, k.score,
       NULL::TIMESTAMP AS date, NULL::VARCHAR AS link, k.num_comments,
       coalesce(a.comment_ids, []::VARCHAR[]) AS comment_ids
FROM keep k LEFT JOIN agg a ON a.parent_post_id = k.id_post
"""


def _components(ids, pairs):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {i: find(i) for i in ids}
    size = {}
    for c in comp.values():
        size[c] = size.get(c, 0) + 1
    return comp, size


def pipeline_expected(inputs, pairs_sql, bot_regex, min_cluster=5):
    """Fingerprints of the merged table and of the IVF index rows that a
    flow over `inputs` must write."""
    con = duckdb.connect()
    _views(con, inputs)
    merged = con.execute(MERGED_SQL.replace("$bots", "?"), [bot_regex]).arrow()
    con.register("merged", merged)
    con.execute("CREATE TEMP TABLE kept AS SELECT e.vec_id, e.embedding FROM embeddings e "
                "WHERE e.vec_id IN (SELECT id_post::BIGINT FROM merged)")
    pairs = con.execute(f"WITH {pairs_sql} SELECT id_a, id_b FROM pairs").fetchall()
    ids = [r[0] for r in con.execute("SELECT vec_id FROM kept").fetchall()]
    comp, size = _components(ids, pairs)
    lab = pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "cluster": pa.array([comp[i] if size[comp[i]] >= min_cluster else -1 for i in ids],
                            type=pa.int64())})
    con.register("lab", lab)
    index = con.execute("SELECT e.vec_id, e.embedding, e.label, l.cluster FROM embeddings e "
                        "JOIN lab l USING (vec_id)").arrow()
    return {"merged": fingerprint(merged), "index": fingerprint(index),
            "funnel": {"survivors": len(ids),
                       "clustered": sum(1 for i in ids if size[comp[i]] >= min_cluster)}}


def flow_actual(flow_dir):
    """Fingerprints of what one flow wrote: the merged table and the IVF
    index read back with its `label` partition column."""
    merged = read_dir(os.path.join(flow_dir, "merged"))
    index = read_dir(os.path.join(flow_dir, "ivf"), hive=True)
    index = index.select(["vec_id", "embedding", "label", "cluster"])
    index = index.set_column(2, "label", index.column("label").cast(pa.int32()))
    return {"merged": fingerprint(merged), "index": fingerprint(index)}
