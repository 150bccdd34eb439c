"""Output checks for one run. Each returns the number of failed operations.

- etl_nightly: every runPipeline output (Books, Customers, Ratings,
  Top100books CSV) against the same pipeline written in DuckDB SQL over
  the raw parquet, and every serving query result against DuckDB over
  the same mart definition.
- lakehouse_commits: checked inside the JVM against a driver-side model
  of each table (row count, key sum, value sum, point lookups), after
  every read and once more after the run's last operation.
- operator_catalog: each entry's first result against its own oracle
  SQL (SparkEntry.oracleSql) in DuckDB; later passes must repeat it
  exactly (checked in the JVM).
"""
import math
import sys
from decimal import Decimal, ROUND_HALF_UP

import duckdb
import numpy as np
import pandas as pd

KEYS = ["Customer-ID", "ISBN", "Book-Rating", "Country", "State", "City"]
RAW_COLS = ["Customer-ID", "ISBN", "Book-Rating", "Location", "Age", "Book-Title",
            "Book-Author", "Year-Of-Publication", "Publisher", "Image-URL-S",
            "Image-URL-M", "Image-URL-L"]


def log(msg):
    print(f"[lakebench] check: {msg}", file=sys.stderr, flush=True)


def q(c):
    return '"' + c + '"'


def spark_round4(x):
    """Spark's round(double, 4): HALF_UP on the double's decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def mart(con, raw_dir):
    """The cleaned frame and the mart views, as Bookstore defines them."""
    con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{raw_dir}/*.parquet')")
    parts = "string_split(Location, ',')"
    cols = ", ".join(f"nullif({q(c)}, ' ') AS {q(c)}" for c in RAW_COLS)
    geo = ", ".join(f"nullif({parts}[{i + 1}], ' ') AS {q(n)}"
                    for i, n in enumerate(["City", "State", "Country"]))
    keys = " AND ".join(f"{q(k)} IS NOT NULL" for k in KEYS)
    con.execute(f"CREATE TABLE clean AS SELECT * FROM (SELECT {cols}, {geo} FROM raw) WHERE {keys}")
    con.execute('CREATE VIEW books AS SELECT DISTINCT "ISBN", "Book-Title", "Book-Author", '
                '"Year-Of-Publication", "Publisher" FROM clean')
    con.execute('CREATE VIEW customers AS SELECT DISTINCT "Customer-ID", "Age", trim("City") AS "City", '
                'trim("State") AS "State", trim("Country") AS "Country" FROM clean')
    con.execute('CREATE VIEW ratings AS SELECT "ISBN", "Customer-ID", "Book-Rating" FROM clean')


def ranked(rows, min_count, k, strict):
    """(key..., sum, count) rows -> top-k by Spark-rounded average desc, key."""
    out = []
    for r in rows:
        *key, s, c = r
        if (c > min_count) if strict else (c >= min_count):
            out.append((*key, spark_round4(s / c), c))
    out.sort(key=lambda r: (-r[-2],) + tuple(r[:-2]))
    return out[:k]


def same_rows(got, want):
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float):
                if a is None or float(a) != b:
                    return False
            elif (None if a is None else str(a)) != (None if b is None else str(b)):
                return False
    return True


def check_etl(res):
    rep = res["report"]
    con = duckdb.connect()
    mart(con, rep["raw"])
    return check_pipelines(con, rep) + check_serving(con, rep)


def check_pipelines(con, rep):
    top_rows = con.execute(
        'SELECT "ISBN", "Book-Title", sum(CAST("Book-Rating" AS DOUBLE)), count(*) '
        'FROM clean GROUP BY 1, 2').fetchall()
    top = ranked(top_rows, rep["min_ratings"], 100, strict=False)
    expected = {
        "Books": "SELECT * FROM books",
        "Customers": "SELECT * FROM customers",
        "Ratings": "SELECT * FROM ratings",
    }
    failed = 0
    for out in rep["outputs"]:
        ok = True
        for name, sql in expected.items():
            con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_csv('{out}/{name}/*.csv', "
                        "header=true, all_varchar=true)")
            n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
            n_want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            diff = con.execute(f"SELECT count(*) FROM ((SELECT * FROM got EXCEPT ALL {sql}) "
                               f"UNION ALL ({sql} EXCEPT ALL SELECT * FROM got))").fetchone()[0]
            if n_got != n_want or diff:
                log(f"{out}/{name}: {n_got} rows vs {n_want} expected, {diff} differ")
                ok = False
        got = con.execute(f"SELECT * FROM read_csv('{out}/Top100books/*.csv', header=true, "
                          "all_varchar=true)").fetchall()
        if not same_rows([(a, b, c, int(d)) for a, b, c, d in got], top):
            log(f"{out}/Top100books differs from the oracle")
            ok = False
        failed += 0 if ok else 1
    return failed


def check_serving(con, rep):
    cache = {}

    def expected(query, params):
        key = (query, tuple(sorted(params.items())))
        if key in cache:
            return cache[key]
        if query == "topBooksByRating":
            rows = con.execute(
                'SELECT b."ISBN", b."Book-Title", sum(CAST(r."Book-Rating" AS DOUBLE)), count(*) '
                'FROM books b JOIN ratings r ON b."ISBN" = r."ISBN" GROUP BY 1, 2').fetchall()
            want = ranked(rows, params["minRatings"], 100, strict=True)
        elif query == "topAuthors":
            rows = con.execute(
                'SELECT b."Book-Author", sum(CAST(r."Book-Rating" AS DOUBLE)), count(*) '
                'FROM books b JOIN ratings r ON b."ISBN" = r."ISBN" GROUP BY 1').fetchall()
            want = ranked(rows, params["minRatings"], 10, strict=True)
        elif query == "topCountries":
            want = con.execute('SELECT "Country", count(*) AS n FROM customers GROUP BY 1 '
                               'ORDER BY n DESC, "Country" LIMIT 10').fetchall()
        else:
            want = con.execute('SELECT "Country", "State", count(*) AS n FROM customers '
                               'WHERE "Country" = ? GROUP BY 1, 2 ORDER BY n DESC, "State" LIMIT 10',
                               [params["country"]]).fetchall()
        cache[key] = want
        return want

    failed = 0
    for r in rep["results"]:
        want = expected(r["query"], r["params"])
        got = [tuple(row[:-1]) + (int(row[-1]),) for row in r["rows"]]
        if not same_rows(got, want):
            log(f"{r['query']} {r['params']} differs from the oracle")
            failed += 1
    return failed


def norm(df):
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def frames_equal(name, got, exp):
    if list(got.columns) != list(exp.columns):
        log(f"{name}: columns {list(got.columns)} != {list(exp.columns)}")
        return False
    if len(got) != len(exp):
        log(f"{name}: {len(got)} rows vs {len(exp)} expected")
        return False
    for c in got.columns:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(e):
            ga, ea = g.astype(float).to_numpy(), e.astype(float).to_numpy()
            bad = ~np.isclose(ga, ea, rtol=0, atol=1e-9, equal_nan=True)
            if bad.any():
                i = int(np.argmax(bad))
                log(f"{name}.{c}: {int(bad.sum())} cells differ (row {i}: {ga[i]!r} vs {ea[i]!r})")
                return False
        else:
            ge = g.astype(object).where(pd.notna(g), None)
            ee = e.astype(object).where(pd.notna(e), None)
            bad = [i for i in range(len(ge)) if ge.iloc[i] != ee.iloc[i] and str(ge.iloc[i]) != str(ee.iloc[i])]
            if bad:
                i = bad[0]
                log(f"{name}.{c}: {len(bad)} cells differ (row {i}: {ge.iloc[i]!r} vs {ee.iloc[i]!r})")
                return False
    return True


# ---------------------------------------------------------------------
# Operator catalog. The four LSH-family oracles (q28, q62, q203, q198)
# cost minutes in DuckDB on a corpus with an oversized LSH bucket (the
# candidate set is quadratic in the bucket and the SQL re-derives it per
# subquery), so they are mirrored here in Python with the same
# arithmetic.
# ---------------------------------------------------------------------

P = 1000000007


def round4(x):
    """DuckDB's round(double, 4) for non-negative x."""
    return math.floor(x * 10000 + 0.5) / 10000


def corpus(con):
    docs = {}
    for doc_id, text in con.execute("SELECT doc_id, text FROM documents").fetchall():
        ws = text.split(" ")
        if len(ws) < 3:
            continue
        th = []
        for w in ws:
            h = 0
            for c in w:
                h = (h * 31 + ord(c)) % P
            th.append(h)
        sh = set(" ".join(ws[i:i + 3]) for i in range(len(ws) - 2))
        hs = set((th[i] * 1009 + th[i + 1] * 9176 + th[i + 2]) % P for i in range(len(ws) - 2))
        docs[doc_id] = (sh, hs)
    return docs


def jaccard(docs, a, b):
    sa, sb = docs[a][0], docs[b][0]
    return round4(len(sa & sb) / len(sa | sb))


def lsh_pairs(docs):
    buckets = {}
    for d, (_, hs) in docs.items():
        sig = [min((v * (2 * j + 1) + j * 12345 + 67) % P for v in hs) for j in range(12)]
        for b in range(4):
            buckets.setdefault((b, sig[3 * b], sig[3 * b + 1], sig[3 * b + 2]), []).append(d)
    cand = set()
    for ds in buckets.values():
        ds.sort()
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                cand.add((a, b))
    out = []
    for a, b in sorted(cand):
        j = jaccard(docs, a, b)
        if j >= 0.7:
            out.append((a, b, j))
    return out


def mirror_q28(docs, pairs):
    return pd.DataFrame(pairs, columns=["a", "b", "jaccard"])


def mirror_q62(docs, pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for x in list(parent):
        comp.setdefault(find(x), []).append(x)
    rows = [(min(m), d, len(m)) for m in comp.values() for d in m]
    return pd.DataFrame(sorted(rows), columns=["cluster_id", "doc_id", "cluster_size"])


def mirror_q203(docs, pairs):
    p = set((a, b) for a, b, _ in pairs)
    nbr = {}
    for a, b in p:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    wedges = set()
    for ns in nbr.values():
        s = sorted(ns)
        for i, u in enumerate(s):
            for w in s[i + 1:]:
                wedges.add((u, w))
    closed = len(wedges & p)
    open_ = wedges - p
    missed = sum(1 for a, c in open_ if jaccard(docs, a, c) >= 0.7)
    ppm = 0 if not wedges else (closed + missed) * 1000000 // len(wedges)
    return pd.DataFrame([(len(p), len(wedges), closed, missed, len(open_) - missed, ppm)],
                        columns=["n_pairs", "n_wedges", "n_closed", "n_missed",
                                 "n_dissimilar", "closure_ppm"])


def mirror_q198(docs, pairs):
    index = {}
    for d, (sh, _) in docs.items():
        for s in sh:
            index.setdefault(s, []).append(d)
    rows = []
    for p_, (sh, _) in docs.items():
        overlap = {}
        for s in sh:
            for q_ in index[s]:
                if q_ != p_:
                    overlap[q_] = overlap.get(q_, 0) + 1
        for q_, n in overlap.items():
            if n * 10 >= len(sh) * 9:
                rows.append((p_, q_, len(sh), len(docs[q_][0]), n * 1000000 // len(sh)))
    return pd.DataFrame(sorted(rows), columns=["contained", "container", "n_a", "n_b",
                                               "containment_ppm"])


MIRRORS = {"q28_minhash_lsh": mirror_q28, "q62_dedup_clusters": mirror_q62,
           "q203_transitivity_audit": mirror_q203, "q198_containment_dedup": mirror_q198}


def check_catalog(res):
    rep = res["report"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in rep["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{rep['dir']}/{t}.parquet/*.parquet')")
    docs = pairs = None
    failed = 0
    for name, path in rep["dumps"].items():
        got = norm(pd.read_parquet(path))
        try:
            if name in MIRRORS:
                if docs is None:
                    docs = corpus(con)
                    pairs = lsh_pairs(docs)
                exp = norm(MIRRORS[name](docs, pairs))
            elif name in rep["oracle"]:
                exp = norm(con.sql(rep["oracle"][name]).df())
            else:
                continue
        except Exception as e:  # an oracle that cannot run is a failed check
            log(f"{name}: oracle error {e}")
            exp = None
        if exp is None or not frames_equal(name, got, exp):
            # the entry's result was produced once per pass; count each
            failed += sum(1 for s in res["spans"] if s["cls"] == name and s["ok"])
    return failed


def run(res):
    return {
        "etl_nightly": check_etl,
        "lakehouse_commits": lambda r: sum(not ok for ok in r["report"]["final_check"].values()),
        "operator_catalog": check_catalog,
    }[res["workload"]](res)
