"""Seeded input generators.

Every table is a pure function of (seed, size): the same seed writes
identical CSVs and identical parquet rows. Sizes are fixed per workload;
only content and layout (doc order, which rows carry NULLs, ...) move
with the seed, so two seeds give workloads of the same shape and cost.
The curation corpus's content is fixed; its seed moves the layout only.
Parquet files are written one per table as `<name>.parquet`, the layout
`graft.sources.Tables` and the DuckDB twins read, with timestamps stored
without a zone (Spark reads them as TIMESTAMP_NTZ, as it does the
harness's reference tables).
"""
import datetime
import os
import random

import duckdb
import pandas as pd

# The curation corpus follows the shape of graft's sf0.1 test corpus
# (5,000 documents), measured there: every text is 10-99 words drawn
# uniformly from the same 30-word vocabulary, 5% of the documents are a
# copy of another one with the token "dup" appended, and 0.16% are exact
# copies. Near-dup edges (word-set Jaccard >= 0.9) then join the long
# documents, whose word sets hold nearly the whole vocabulary, into one
# dense component, and leave most short documents isolated. Scaled down,
# the shares keep: the edge count grows with the square of the document
# count (964,854 edges at 5,000 documents, 9,020 at 500), about half of
# the documents form the large component and about 45% have no edge.
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]
MIN_WORDS, MAX_WORDS = 10, 99
DUP_SHARE, EXACT_SHARE = 0.05, 0.0016
LANGS = [("en", 0.41), ("de", 0.14), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)]


def _rng(seed, salt):
    return random.Random(f"{seed}:{salt}")


def _write(con, out_dir, name, df):
    path = os.path.join(out_dir, f"{name}.parquet")
    con.register("frame", df)
    cols = [f"CAST({c} AS TIMESTAMP) AS {c}" if t.startswith("TIMESTAMP") else c
            for c, t, *_ in con.execute("DESCRIBE frame").fetchall()]
    con.execute(f"COPY (SELECT {', '.join(cols)} FROM frame) TO '{path}' (FORMAT PARQUET)")
    con.unregister("frame")
    return {"name": name, "rows": len(df), "bytes": os.path.getsize(path)}


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one writer: row order is the frame's
    return con


def documents(out_dir, seed, n_docs):
    """The corpus is fixed, as graft's test corpus is; the seed re-lays it
    out (which doc id and row each text gets). Seeded content would also
    move the edge count (by about 8% between seeds at 1,000 documents)."""
    r = _rng("corpus", "documents")
    n_dup, n_exact = round(n_docs * DUP_SHARE), round(n_docs * EXACT_SHARE)
    n_rand = n_docs - n_dup - n_exact
    lens = [MIN_WORDS + i * (MAX_WORDS - MIN_WORDS + 1) // n_rand for i in range(n_rand)]
    r.shuffle(lens)
    texts = [" ".join(r.choice(VOCAB) for _ in range(k)) for k in lens]
    texts += [r.choice(texts[:n_rand]) + " dup" for _ in range(n_dup)]
    texts += [r.choice(texts[:n_rand]) for _ in range(n_exact)]
    langs, weights = zip(*LANGS)
    docs = list(zip(texts, r.choices(langs, weights, k=n_docs)))
    _rng(seed, "documents").shuffle(docs)
    df = pd.DataFrame({
        "doc_id": pd.Series(range(n_docs), dtype="int64"),
        "text": [t for t, _ in docs],
        "lang": [lang for _, lang in docs],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pd.Series([len(t) for t, _ in docs], dtype="int64")})
    return [_write(_con(), out_dir, "documents", df)]


def _money(r, lo, hi):
    return round(lo + r.random() * (hi - lo), 2)


def tpch(out_dir, seed, n_orders):
    """TPC-H-shaped star: region, nation, customer, supplier, part, orders,
    lineitem, in the reference tables' column names and types."""
    r = _rng(seed, "tpch")
    n_cust, n_part, n_supp = n_orders // 10, n_orders * 2 // 15, max(10, n_orders // 150)
    con = _con()
    i32, i64 = "int32", "int64"
    out = [
        _write(con, out_dir, "region", pd.DataFrame({
            "r_regionkey": pd.Series(range(5), dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})),
        _write(con, out_dir, "nation", pd.DataFrame({
            "n_nationkey": pd.Series(range(25), dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pd.Series([i % 5 for i in range(25)], dtype=i32)}))]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    out.append(_write(con, out_dir, "customer", pd.DataFrame({
        "c_custkey": pd.Series(range(n_cust), dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pd.Series([r.randrange(25) for _ in range(n_cust)], dtype=i32),
        "c_acctbal": [_money(r, -999, 9999) for _ in range(n_cust)],
        "c_mktsegment": [r.choice(segs) for _ in range(n_cust)]})))
    out.append(_write(con, out_dir, "supplier", pd.DataFrame({
        "s_suppkey": pd.Series(range(n_supp), dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pd.Series([r.randrange(25) for _ in range(n_supp)], dtype=i32),
        "s_acctbal": [_money(r, -999, 9999) for _ in range(n_supp)]})))
    adj = ["small", "red", "large", "blue", "green", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    types = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"]
    out.append(_write(con, out_dir, "part", pd.DataFrame({
        "p_partkey": pd.Series(range(n_part), dtype=i64),
        "p_name": [f"{r.choice(adj)} {r.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{1 + r.randrange(25)}" for _ in range(n_part)],
        "p_type": [r.choice(types) for _ in range(n_part)],
        "p_size": pd.Series([1 + r.randrange(50) for _ in range(n_part)], dtype=i32),
        "p_retailprice": [900.0 + (i % 1000) / 10.0 for i in range(n_part)]})))
    start, cutoff = datetime.datetime(1995, 1, 1), datetime.datetime(1998, 6, 1)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders, items = [], []
    for o in range(n_orders):
        od = start + datetime.timedelta(days=r.randrange(2400))
        total = 0.0
        for line in range(1, 2 + r.randrange(7)):
            price = _money(r, 900, 100000)
            total += price
            ship = od + datetime.timedelta(days=1 + r.randrange(120))
            items.append((o, r.randrange(n_part), r.randrange(n_supp), line,
                          float(1 + r.randrange(50)), price, r.randrange(11) / 100.0,
                          r.randrange(9) / 100.0, r.choice("AR"), "F" if ship < cutoff else "O",
                          ship))
        orders.append((o, r.randrange(n_cust), r.choice("FOP"), round(total, 2), od,
                       r.choice(prios)))
    odf = pd.DataFrame(orders, columns=["o_orderkey", "o_custkey", "o_orderstatus",
                                        "o_totalprice", "o_orderdate", "o_orderpriority"])
    ldf = pd.DataFrame(items, columns=[
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate"]).astype({"l_linenumber": i32})
    out.append(_write(con, out_dir, "orders", odf))
    out.append(_write(con, out_dir, "lineitem", ldf))
    return out


def _q(v):
    """A CSV field, quoted when it holds a comma or a quote."""
    return '"' + v.replace('"', '""') + '"' if ("," in v or '"' in v) else v


def _csv(out_dir, name, header, rows):
    path = os.path.join(out_dir, name)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(header + "\n")
        for row in rows:
            fh.write(",".join(row) + "\n")
    return {"name": name, "rows": len(rows), "bytes": os.path.getsize(path)}


def imdb(out_dir, seed, n_movies):
    """The six IMDB staging CSVs in the FIXTURES.md schemas: `NULL`
    literals, quoted commas, UTF-8 titles, movies with no genre."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "imdb")

    def or_null(p, v):
        return "NULL" if r.random() < p else v

    movie_ids = [f"tt{12494 + i * 7:07d}" for i in range(n_movies)]
    name_ids = [f"nm{2 + i * 3:07d}" for i in range(n_movies)]
    countries = ["USA", "India", "UK", "France", "Japan", "UK, USA", "Germany",
                 "South Korea", "Canada", "Spain", "Italy", "USA, Canada"]
    langs = ["English", "Hindi", "French", "English, French", "Japanese",
             "English, French, Russian", "German", "Korean", "Spanish"]
    words = ["Night", "Der", "müde", "Tod", "Return", "of", "the", "Last", "City", "Blue",
             "River", "Shadow", "Summer", "King", "Café"]
    movies = []
    for mid in movie_ids:
        year = 2017 + r.randrange(3)
        title = " ".join(r.choice(words) for _ in range(1 + r.randrange(4)))
        if r.randrange(8) == 0:
            title += f", Part {1 + r.randrange(3)}"
        movies.append([
            mid, _q(title), str(year),
            datetime.date(year, 1 + r.randrange(12), 1 + r.randrange(28)).isoformat(),
            str(70 + r.randrange(110)), or_null(0.01, _q(r.choice(countries))),
            or_null(0.5, f"$ {1000 + r.randrange(9000000)}"),
            or_null(0.03, _q(r.choice(langs))), or_null(0.05, _q(f"{r.choice(words)} Pictures"))])
    genre_names = ["Action", "Adventure", "Comedy", "Crime", "Drama", "Family", "Fantasy",
                   "Horror", "Mystery", "Others", "Romance", "Sci-Fi", "Thriller"]
    genres = [[mid, g] for mid in movie_ids if r.randrange(2)
              for g in r.sample(genre_names, 1 + r.randrange(3))]
    firsts = ["Ana", "Raj", "Li", "Tom", "Eva", "José", "Mia", "Omar", "Kai", "Zoé"]
    lasts = ["Smith", "Kumar", "Chen", "García", "Müller", "Okafor", "Sato", "Rossi"]
    names = [[nid, _q(f"{r.choice(firsts)} {r.choice(lasts)}"),
              or_null(0.15, str(150 + r.randrange(50))),
              or_null(0.04, datetime.date(1940 + r.randrange(60), 1 + r.randrange(12),
                                          1 + r.randrange(28)).isoformat()),
              or_null(0.88, r.choice(movie_ids))] for nid in name_ids]
    ratings = [[mid, f"{1.0 + r.randrange(91) / 10.0:.1f}", str(100 + r.randrange(586000)),
                str(1 + r.randrange(10))] for mid in movie_ids]
    directors = list(dict.fromkeys(
        (mid, r.choice(name_ids)) for mid in movie_ids if r.randrange(10)))
    roles, seen = [], set()
    for mid in movie_ids:
        for _ in range(1 + r.randrange(2)):
            nid, cat = r.choice(name_ids), "actor" if r.randrange(8) < 5 else "actress"
            if (mid, nid) not in seen:
                seen.add((mid, nid))
                roles.append([mid, nid, cat])
    return [
        _csv(out_dir, "movie.csv", "id,title,year,date_published,duration,country,"
             "worlwide_gross_income,languages,production_company", movies),
        _csv(out_dir, "ganre.csv", "movie_id,genre", genres),
        _csv(out_dir, "names.csv", "id,name,height,date_of_birth,known_for_movies", names),
        _csv(out_dir, "ratings.csv", "movie_id,avg_rating,total_votes,median_rating", ratings),
        _csv(out_dir, "director_mapping.csv", "movie_id,name_id", [list(d) for d in directors]),
        _csv(out_dir, "role_mapping.csv", "movie_id,name_id,category", roles)]


# Workload -> generator calls. Sizes are part of the benchmark definition.
CURATION_DOCS = 1000
IMDB_MOVIES = 2000
STAR_ORDERS = 8000


def generate(workload, in_dir, seed):
    """Writes the workload's inputs under `in_dir`; returns their stamps."""
    os.makedirs(in_dir, exist_ok=True)
    if workload == "curation_graph":
        return documents(in_dir, seed, CURATION_DOCS)
    if workload == "star_etl":
        return imdb(os.path.join(in_dir, "imdb"), seed, IMDB_MOVIES) + tpch(in_dir, seed, STAR_ORDERS)
    raise ValueError(f"unknown workload {workload}")

