"""Output checks that recompute the program's results with DuckDB.

Each check reads the generated JSON itself, so it shares no code with the
timed Spark path. A check returns (name, passed, detail).
"""
import json
import os

import duckdb

COMMENTS_COLS = ("{id: 'VARCHAR', parent_id: 'VARCHAR', score: 'INTEGER', "
                 "link_id: 'VARCHAR', author: 'VARCHAR', subreddit: 'VARCHAR', "
                 "body: 'VARCHAR', created_utc: 'INTEGER'}")
SUBMISSIONS_COLS = ("{author: 'VARCHAR', created_utc: 'VARCHAR', id: 'VARCHAR', "
                    "score: 'INTEGER', selftext: 'VARCHAR', title: 'VARCHAR', "
                    "url: 'VARCHAR', subreddit: 'VARCHAR'}")
PCT = "(1.0 - 0.05)"  # the 5% most active authors are cut


def _json(path, cols):
    return ("read_json('%s', format = 'newline_delimited', columns = %s, "
            "ignore_errors = false)" % (path, cols))


def _well_formed(src, dst):
    """Copy the lines that parse as JSON objects. Spark's PERMISSIVE scan
    turns a malformed line into an all-null row, which every query here
    filters out; DuckDB's own error skipping can also lose the line after
    a truncated one, so the recomputation reads a pre-cleaned copy."""
    if not os.path.exists(dst):
        with open(src) as f, open(dst + ".tmp", "w") as out:
            for line in f:
                try:
                    ok = isinstance(json.loads(line), dict)
                except ValueError:
                    ok = False
                if ok:
                    out.write(line)
        os.replace(dst + ".tmp", dst)
    return dst


def _sources(data):
    c = _well_formed(os.path.join(data, "comments.json"),
                     os.path.join(data, "comments.clean.ndjson"))
    s = _well_formed(os.path.join(data, "submissions.json"),
                     os.path.join(data, "submissions.clean.ndjson"))
    return ("g_c AS (SELECT * FROM %s),\n g_s AS (SELECT * FROM %s)"
            % (_json(c, COMMENTS_COLS), _json(s, SUBMISSIONS_COLS)))


def _digest(con, sql, cols):
    """Row count and an order-independent hash over the rows' text form."""
    key = " || '|' || ".join("COALESCE(CAST(%s AS VARCHAR), '~')" % c for c in cols)
    q = ("SELECT COUNT(*), COALESCE(SUM(CAST(('0x' || substr(md5(%s), 1, 15)) "
         "AS BIGINT)::HUGEINT), 0) FROM (%s)" % (key, sql))
    n, h = con.execute(q).fetchone()
    return int(n), int(h)


def _parquet(path):
    return "SELECT * FROM read_parquet('%s/*.parquet')" % path


def user_contexts_sql(data):
    """q30's shape over the comments: Community2Vec.userContexts."""
    return """WITH %s,
 np AS (SELECT * FROM g_c WHERE NOT regexp_matches(subreddit, '^u_.*')),
 top AS (SELECT subreddit FROM (SELECT subreddit, COUNT(*) AS cnt FROM np
         GROUP BY subreddit ORDER BY cnt DESC, subreddit LIMIT 10000)),
 named AS (SELECT * FROM np WHERE subreddit IN (SELECT subreddit FROM top)
           AND author <> '[deleted]'),
 ctx AS (SELECT author, string_agg(subreddit, ' ' ORDER BY subreddit) AS subreddit_concat,
                COUNT(subreddit) AS context_length FROM named GROUP BY author),
 r AS (SELECT *, percent_rank() OVER (ORDER BY context_length) AS pr FROM ctx)
SELECT subreddit_concat, context_length FROM r
WHERE pr <= %s AND context_length >= 2""" % (_sources(data), PCT)


def joined_sql(data):
    """q31's shape over both tables: Community2Vec.joinedSubmissionsComments."""
    return """WITH %s,
 c0 AS (SELECT * FROM g_c WHERE NOT regexp_matches(subreddit, '^u_.*')),
 s0 AS (SELECT * FROM g_s WHERE NOT regexp_matches(subreddit, '^u_.*')),
 top AS (SELECT subreddit FROM (SELECT subreddit, COUNT(*) AS cnt FROM c0
         GROUP BY subreddit ORDER BY cnt DESC, subreddit LIMIT 10000)),
 c1 AS (SELECT * FROM c0 WHERE subreddit IN (SELECT subreddit FROM top)
        AND author <> '[deleted]' AND body NOT IN ('[removed]', '[deleted]')),
 s1 AS (SELECT * FROM s0 WHERE subreddit IN (SELECT subreddit FROM top)
        AND author <> '[deleted]' AND selftext NOT IN ('[removed]', '[deleted]')),
 ac AS (SELECT author, COUNT(*) AS cnt FROM c1 GROUP BY author),
 keep AS (SELECT author FROM (SELECT author, percent_rank() OVER (ORDER BY cnt) AS pr
          FROM ac) WHERE pr <= %s),
 c2 AS (SELECT * FROM c1 WHERE author IN (SELECT author FROM keep)),
 j AS (SELECT 't3_' || s1.id AS fullname_id, c2.id AS comments_id, c2.body,
              CAST(c2.created_utc AS BIGINT) - CAST(s1.created_utc AS BIGINT)
                AS time_to_comment_in_seconds
       FROM s1 JOIN c2 ON 't3_' || s1.id = c2.link_id)
SELECT * FROM j WHERE time_to_comment_in_seconds > 3
  AND time_to_comment_in_seconds < 259200""" % (_sources(data), PCT)


def check_ihop(data, outputs):
    con = duckdb.connect()
    res = []
    for name, sql, cols in (
            ("user_contexts", user_contexts_sql(data),
             ["subreddit_concat", "context_length"]),
            ("joined", joined_sql(data),
             ["fullname_id", "comments_id", "body", "time_to_comment_in_seconds"])):
        want = _digest(con, sql, cols)
        got = _digest(con, _parquet(os.path.join(outputs, name)), cols)
        res.append(("duckdb_" + name, want == got and want[0] > 0,
                    "rows %d/%d" % (got[0], want[0])))
    return res


CHECKS = {"ihop_month": check_ihop}


def run(workload, data, outputs):
    fn = CHECKS.get(workload)
    return fn(data, outputs) if fn else []
