"""Correctness gates, run after the timed region: the program's outputs
against DuckDB on the same generated inputs, compared with the canonical
frame hash of tools/oracle_check.py."""
import os
import random
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_check import canon, frame_hash  # noqa: E402

# The q_related_terms oracle of ops/CoreQueries.scala, for a given term
# and k: tokenize → counts → totals → df → tfidf, then cosine top-k.
TFIDF_SQL = """CREATE TABLE tfidf AS
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
cnt AS (SELECT doc_id, term, count(*) AS cnt FROM tok WHERE term <> '' GROUP BY doc_id, term),
tot AS (SELECT doc_id, sum(cnt) AS doc_total FROM cnt GROUP BY doc_id),
dfreq AS (SELECT term, count(*) AS df FROM cnt GROUP BY term),
m AS (SELECT count(*) AS m FROM documents)
SELECT c.doc_id, c.term,
  (CAST(c.cnt AS DOUBLE)/CAST(t.doc_total AS DOUBLE)) * log10(CAST(m.m AS DOUBLE)/CAST(d.df AS DOUBLE)) AS tfidf
FROM cnt c JOIN tot t ON c.doc_id=t.doc_id JOIN dfreq d ON c.term=d.term CROSS JOIN m"""

RELATED_SQL = """WITH qvec AS (SELECT doc_id, tfidf AS v1 FROM tfidf WHERE term = $q),
den1 AS (SELECT sqrt(sum(v1*v1)) AS d1 FROM qvec),
sims AS (
  SELECT f.term, sum(coalesce(q.v1, 0.0) * f.tfidf) AS num, sum(f.tfidf*f.tfidf) AS den2
  FROM tfidf f LEFT JOIN qvec q ON f.doc_id = q.doc_id
  WHERE f.term <> $q
  GROUP BY f.term
)
SELECT term, round((num/sqrt(den2)) / (SELECT d1 FROM den1), 9) AS sim
FROM sims WHERE num <> 0 ORDER BY sim DESC, term LIMIT 5"""

SAMPLE_PRESENT = 3


def same(spark_df, duck_df):
    s, d = canon(spark_df), canon(duck_df)
    return list(s.columns) == list(d.columns) and len(s) == len(d) and frame_hash(s) == frame_hash(d)


def terms_gate(inputs, rep, seed):
    """Top-k of a seeded sample of the issued terms, one absent term
    included (its answer must be empty)."""
    issued = rep["outputs"]["queries"]
    absent = [q for q in issued if q[1] == "absent"][:1]
    present = [q for q in issued if q[1] != "absent"]
    sample = absent + random.Random(seed).sample(present, min(SAMPLE_PRESENT, len(present)))
    ids, texts = [], []
    with open(os.path.join(inputs, "corpus.txt")) as f:
        for line in f:
            doc_id, _, text = line.rstrip("\n").partition(" ")
            ids.append(doc_id)
            texts.append(text)
    con = duckdb.connect()
    con.register("docs_df", pd.DataFrame({"doc_id": ids, "text": texts}))
    con.execute("CREATE TABLE documents AS SELECT * FROM docs_df")
    con.execute(TFIDF_SQL)
    wrong = []
    for term, cls, rows in sample:
        spark_df = pd.DataFrame(rows, columns=["term", "sim"]).astype({"term": object, "sim": float})
        duck_df = con.execute(RELATED_SQL, {"q": term}).df()
        if not same(spark_df, duck_df):
            wrong.append(f"relatedTerms({term!r}, {cls}) != DuckDB: spark={rows} "
                         f"duck={duck_df.values.tolist()}")
    if not absent:
        wrong.append("no absent term was issued")
    return len(sample), wrong


def mix_gate(inputs, rep, seed):
    """Each declared query's warm-up result equals its DuckDB oracle."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(inputs, t)}.parquet')")
    wrong = []
    oracle = rep["outputs"]["oracle_sql"]
    for q, sql in sorted(oracle.items()):
        d = os.path.join(rep["outputs"]["results_dir"], q)
        if not os.path.isdir(d):
            continue  # the JVM already recorded this query's failure
        if not same(pd.read_parquet(d), con.execute(sql).df()):
            wrong.append(f"{q} != DuckDB oracle")
    return len(oracle), wrong


GATES = {"serve_terms": terms_gate, "ops_mix": mix_gate}


def check(workload, inputs, rep, seed):
    """(number of outputs checked, list of mismatches)."""
    return GATES[workload](inputs, rep, seed)

