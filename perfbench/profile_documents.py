"""Measures the shape of a `documents` table (doc_id, text, lang, source,
n_chars), the figures perfbench's corpus generator (Inputs.documents)
reproduces: row count, words per text, vocabulary, languages, sources,
near-duplicates (another text plus " dup"), exact copies, and the distinct
(lang, word bigram) keys with their largest document frequency.

Not part of a benchmark run. Needs the duckdb Python package.

    python3 perfbench/profile_documents.py path/to/documents.parquet
"""
import sys

import duckdb


def main(path):
    c = duckdb.connect()
    c.read_parquet(path).create_view("d")
    q = lambda sql: c.execute(sql).fetchall()
    print("documents, distinct texts:", q("SELECT count(*), count(DISTINCT text) FROM d")[0])
    print("words per text min, quartiles, max:", q(
        "SELECT min(n), quantile_cont(n, [0.25, 0.5, 0.75]), max(n) "
        "FROM (SELECT len(string_split(text, ' ')) n FROM d)")[0])
    print("vocabulary:", q(
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM d)")[0][0])
    print("languages:", q("SELECT lang, count(*) FROM d GROUP BY 1 ORDER BY 2 DESC"))
    print("sources, documents per source:", q(
        "SELECT count(*), min(n), max(n) FROM (SELECT source, count(*) n FROM d GROUP BY 1)")[0])
    print("near-duplicates (text ends in ' dup'), of which copy another text:", q(
        "SELECT count(*), count(*) FILTER (WHERE EXISTS "
        "(SELECT 1 FROM d b WHERE a.text = b.text || ' dup')) FROM d a WHERE a.text LIKE '% dup'")[0])
    print("exact-copy pairs:", q(
        "SELECT count(*) FROM d a JOIN d b ON a.text = b.text AND a.doc_id < b.doc_id")[0][0])
    c.execute("CREATE TABLE sh AS SELECT DISTINCT doc_id, lang, "
              "unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) s "
              "FROM (SELECT doc_id, lang, string_split(text, ' ') w FROM d)")
    print("distinct (lang, shingle) keys, max df:", q(
        "SELECT count(*), max(n) FROM (SELECT lang, s, count(*) n FROM sh GROUP BY 1, 2)")[0])


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
