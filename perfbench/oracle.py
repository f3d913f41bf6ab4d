"""DuckDB oracle for `corpus_curation`: the library's own `q_pretrain_e2e`
oracle SQL, run over the same generated documents.

The SQL's fuzzy-duplicate step (`fdrop`) joins every document with every
other one; at 5,000 documents that cross join takes DuckDB far longer than
a run may. This module runs the SQL up to the shingle sets (`gr`), finds
the same pairs with an exact prefix-filtered set-similarity join, and
feeds them back as the `fdrop` table, so the rest of the SQL runs as
written. The pair predicate is the SQL's own: Jaccard of the shingle sets,
as a double, at least the threshold read from the SQL text.
"""

import math
import re

FDROP = "fdrop AS ("
AFTER_FDROP = "\nfz AS"


def split_sql(sql):
    """(query for the shingle sets, full query reading `fdrop_exact`,
    Jaccard threshold)."""
    a = sql.find(FDROP)
    b = sql.find(AFTER_FDROP, a)
    if a < 0 or b < 0:
        raise ValueError("oracle SQL has no fdrop CTE followed by fz")
    m = re.search(r">=\s*([0-9.]+)\)\s*,?\s*$", sql[a:b])
    if not m:
        raise ValueError("cannot read the fdrop Jaccard threshold")
    sets_sql = sql[:a].rstrip().rstrip(",") + "\nSELECT doc_id, g FROM gr"
    full_sql = sql[:a] + "fdrop AS (SELECT doc_id FROM fdrop_exact)," + sql[b:]
    return sets_sql, full_sql, float(m.group(1))


def near_duplicates(sets, threshold):
    """Larger id of every pair (a < b) whose Jaccard is >= threshold.

    Prefix filtering: with the tokens of every set in one global order
    (rarest first), two sets at Jaccard >= t share a token among the
    first |s| - ceil(t |s|) + 1 of either; the floor below only widens
    that prefix. Every candidate is then verified exactly."""
    freq = {}
    for s in sets.values():
        for x in s:
            freq[x] = freq.get(x, 0) + 1
    index = {}
    for d, s in sets.items():
        toks = sorted(s, key=lambda x: (freq[x], x))
        for x in toks[:len(toks) - math.floor(threshold * len(toks)) + 1]:
            index.setdefault(x, []).append(d)
    cands = set()
    for ids in index.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                cands.add((min(a, b), max(a, b)))
    drop = set()
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        if float(inter) / float(len(sets[a]) + len(sets[b]) - inter) >= threshold:
            drop.add(b)
    return drop


def curated(sql, documents):
    """Rows of the oracle query over the parquet file `documents`."""
    import duckdb
    sets_sql, full_sql, threshold = split_sql(sql)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        path = documents.replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        sets = {d: set(g) for d, g in con.execute(sets_sql).fetchall()}
        con.execute("CREATE TABLE fdrop_exact (doc_id BIGINT)")
        drop = sorted(near_duplicates(sets, threshold))
        if drop:
            con.executemany("INSERT INTO fdrop_exact VALUES (?)", [(d,) for d in drop])
        return [[int(v) for v in r] for r in con.execute(full_sql).fetchall()]
    finally:
        con.close()
