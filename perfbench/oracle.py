"""Independent oracle for the tweet workloads: DuckDB over the JSONL corpus.

Recomputes, from the reference semantics and without any of the program's
code, every output the workloads produce: the retweet, hashtag and Jaccard
edges, the unified graph, the per-user report, the 2-hop neighbourhood of
one node and the word-cloud text. Each output is reduced to a row count and
an order-insensitive hash (see `digest`), which is what the workloads'
outputs are compared against.
"""
import csv
import glob
import hashlib
import math
import os

import duckdb

from gen import ACCENTED, PLAIN

_ENT = "STRUCT(text VARCHAR)[]"
COLUMNS = {
    "user": "STRUCT(id BIGINT)",
    "text": "VARCHAR",
    "hashtagEntities": _ENT,
    "hashtagEntitiesArray": "VARCHAR[]",
    "retweeted_status": "STRUCT(\"user\" STRUCT(id BIGINT), text VARCHAR, "
                        f"hashtagEntities {_ENT}, hashtagEntitiesArray VARCHAR[])",
}


def row_hash(fields):
    """First 60 bits of md5 over the '|'-joined fields, as an integer."""
    return int(hashlib.md5("|".join(fields).encode("utf-8")).hexdigest()[:15], 16)


def digest(rows):
    """(row count, sum of row hashes) as strings: a multiset fingerprint."""
    rows = list(rows)
    return [str(len(rows)), str(sum(row_hash(r) for r in rows))]


def w_canon(w):
    """Edge weight as an integer count of 1e-9 units (same IEEE steps as
    the harness's Spark expression)."""
    return str(int(math.floor(float(w) * 1e9 + 0.5)))


def _sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def expected(corpus, hub, work_dir):
    """Canonical rows of every output, computed by DuckDB.

    Returns {output name: list of row tuples of strings}."""
    con = duckdb.connect(config={"temp_directory": os.path.join(work_dir, "duckdb_tmp"),
                                 "threads": 2})
    cols = "{" + ", ".join(f"{_sql_str(k)}: {_sql_str(v)}" for k, v in COLUMNS.items()) + "}"
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_json_auto({_sql_str(corpus)}, "
                f"format='newline_delimited', columns={cols})")
    acc, plain = _sql_str(ACCENTED), _sql_str(PLAIN)
    w = "CAST(floor(w * 1e9 + 0.5) AS BIGINT)::VARCHAR"
    con.execute("""
      CREATE TABLE rt AS
      SELECT CAST(retweeted_status."user".id AS VARCHAR) AS src,
             CAST("user".id AS VARCHAR) AS dst, count(*)::DOUBLE AS w, 'RT' AS type
      FROM t WHERE retweeted_status IS NOT NULL GROUP BY 1, 2""")
    # per-user tags: own posts with entities, plus retweeted originals'
    # tags credited to their author; arrays are joined on ',', normalized
    # and split again, so a user with no tags at all gets [""]
    con.execute(f"""
      CREATE TABLE ut AS
      WITH combined AS (
        SELECT CAST("user".id AS VARCHAR) AS id, hashtagEntitiesArray AS htea FROM t
        WHERE "user".id IS NOT NULL AND hashtagEntities IS NOT NULL
        UNION ALL
        SELECT CAST(retweeted_status."user".id AS VARCHAR), retweeted_status.hashtagEntitiesArray
        FROM t WHERE retweeted_status."user".id IS NOT NULL
          AND retweeted_status.hashtagEntities IS NOT NULL)
      SELECT id, list_sort(list_distinct(string_split(translate(lower(coalesce(
               array_to_string(flatten(list(htea) FILTER (WHERE htea IS NOT NULL)), ','),
               '')), {acc}, {plain}), ','))) AS hts
      FROM combined GROUP BY id""")
    con.execute("""
      CREATE TABLE ht AS
      SELECT id AS src, tag AS dst, count(*)::DOUBLE AS w, 'HT' AS type
      FROM (SELECT id, unnest(hts) AS tag FROM ut) GROUP BY 1, 2""")
    con.execute("""
      CREATE TABLE jc AS
      WITH uts AS (SELECT id, unnest(hts) AS tag FROM ut),
           sizes AS (SELECT id, count(*) AS n FROM uts GROUP BY id),
           shared AS (SELECT x.id AS src, y.id AS dst, count(*) AS shared
                      FROM uts x JOIN uts y ON x.tag = y.tag AND x.id > y.id
                      GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT src, dst, shared::DOUBLE / (s1.n + s2.n - shared)::DOUBLE AS w, 'JC' AS type
      FROM shared JOIN sizes s1 ON src = s1.id JOIN sizes s2 ON dst = s2.id
      WHERE shared::DOUBLE / (s1.n + s2.n - shared)::DOUBLE > 0.5""")
    con.execute("""
      CREATE TABLE fe AS
      SELECT DISTINCT * FROM (SELECT * FROM rt UNION ALL SELECT * FROM ht UNION ALL SELECT * FROM jc)""")
    out = {}
    q = lambda sql: [tuple("" if v is None else str(v) for v in r) for r in con.execute(sql).fetchall()]
    out["jaccard.edges"] = q(f"SELECT src, dst, {w}, type FROM jc")
    out["full.edges"] = q(f"SELECT src, dst, {w}, type FROM fe")
    out["full.vertices"] = q("SELECT DISTINCT id FROM (SELECT src AS id FROM fe UNION ALL SELECT dst FROM fe)")
    out["report"] = q("""
      WITH rtu AS (SELECT src AS uid, list_sort(list_distinct(list(dst))) AS l FROM rt GROUP BY src),
           bert AS (SELECT dst AS uid, list_sort(list_distinct(list(src))) AS l FROM rt GROUP BY dst),
           peers AS (SELECT uid, list_sort(list_distinct(list(peer))) AS l FROM (
                       SELECT src AS uid, dst AS peer FROM jc UNION ALL SELECT dst, src FROM jc)
                     GROUP BY uid)
      SELECT ut.id,
             '[' || array_to_string(ut.hts, ',') || ']',
             '[' || coalesce(array_to_string(rtu.l, ','), '') || ']',
             '[' || coalesce(array_to_string(bert.l, ','), '') || ']',
             '[' || coalesce(array_to_string(peers.l, ','), '') || ']'
      FROM ut LEFT JOIN rtu ON ut.id = rtu.uid LEFT JOIN bert ON ut.id = bert.uid
              LEFT JOIN peers ON ut.id = peers.uid""")
    # 2-hop neighbourhood: the frontier grows through dst endpoints of the
    # hub's non-hashtag edges, plus the hub; every edge touching it stays
    h = _sql_str(str(hub))
    con.execute(f"""
      CREATE TABLE nb AS
      WITH frontier AS (SELECT dst AS nid FROM fe WHERE (src = {h} OR dst = {h}) AND type <> 'HT'
                        UNION SELECT {h})
      SELECT * FROM fe WHERE src IN (SELECT nid FROM frontier) OR dst IN (SELECT nid FROM frontier)""")
    out["neighbours.edges"] = q(f"SELECT src, dst, {w}, type FROM nb")
    out["neighbours.vertices"] = q("SELECT DISTINCT id FROM (SELECT src AS id FROM nb UNION ALL SELECT dst FROM nb)")
    clean = ("array_to_string(list_filter(regexp_split_to_array(lower({}), '[^\\p{{L}}]+'), "
             "x -> length(x) > 0), ' ')")
    out["wordcloud"] = q(f"""
      SELECT CASE WHEN retweeted_status.text IS NULL THEN {clean.format('text')}
                  ELSE {clean.format('retweeted_status.text')} END FROM t""")
    con.close()
    return out


def csv_rows(directory, sep, weight_col=None):
    """Rows of the CSV part files Spark wrote under `directory` (header
    skipped), with the weight column canonicalized."""
    rows = []
    for path in sorted(glob.glob(os.path.join(directory, "part-*"))):
        with open(path, newline="", encoding="utf-8") as f:
            reader = csv.reader(f, delimiter=sep)
            next(reader, None)
            for r in reader:
                r = r or [""]
                if weight_col is not None:
                    r[weight_col] = w_canon(r[weight_col])
                rows.append(tuple(r))
    return rows


def cli_outputs(out_dir, hub):
    """Canonical rows of every file the CLI wrote into `out_dir`."""
    nb = os.path.join(out_dir, f"id_neighbours_{hub}")
    return {
        "wordcloud": csv_rows(os.path.join(out_dir, "wordCloud"), ","),
        "full.edges": csv_rows(os.path.join(out_dir, "gFull", "g.edges.csv"), ",", 2),
        "full.vertices": csv_rows(os.path.join(out_dir, "gFull", "g.vertices.csv"), ","),
        "report": csv_rows(os.path.join(out_dir, "exportPowerBI"), ";"),
        "neighbours.edges": csv_rows(os.path.join(nb, "id.edges.csv"), ",", 2),
        "neighbours.vertices": csv_rows(os.path.join(nb, "id.vertices.csv"), ","),
    }
