"""Seeded input generator for the benchmark.

Every input the engine sees in a benchmark run comes from here: the
TPC-H-shaped star schema plus the `events`, `documents` and `embeddings`
tables the catalog queries read (same names, columns, row counts and value
domains as the engine's test tables; perfbench/NOTES.md compares them), and
a Play Store CSV pair with the dirty-value classes of the reference's real
files. The same seed always produces
byte-identical files.

The Play Store generator also returns the ground truth of the five Parts,
computed here in plain Python from the rows it wrote, so the benchmark can
check the engine's outputs without trusting the engine.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a the data spark table column row key value join group agg sort hash "
    "scan filter order line part customer query stream batch window merge "
    "small big fast slow vector"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# Rows per table at scale factor 1 (TPC-H ratios; the engine's test tables
# follow the same ones).
_ROWS_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
_DAY0 = dt.date(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - _DAY0).days


def _date_col(rng, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    days = rng.integers(_days(lo), _days(hi) + 1, n).astype("int64")
    return pa.array(days * 86_400_000_000, pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary, with a few exact
    duplicates and near-duplicates (one word swapped for `dup`) so the
    dedup operators have real work."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.004:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = rng.normal(0.0, 1.0, (n, dim)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def _table(name: str, rng, n: dict[str, int]) -> pa.Table:
    """One catalog table; only its row count and the row counts of the
    tables its keys reference come from outside."""
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        nc = n["customer"]
        return pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        })
    if name == "supplier":
        ns = n["supplier"]
        return pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        })
    if name == "part":
        npart = n["part"]
        names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
        return pa.table({
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": rng.choice(names, npart),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        })
    if name == "orders":
        no = n["orders"]
        return pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _date_col(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        })
    if name == "lineitem":
        nl = n["lineitem"]
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _date_col(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
        })
    if name == "events":
        ne = n["events"]
        ts0 = _days(dt.date(2024, 1, 1)) * 86_400_000_000
        ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + ts0
        return pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(ne // 66, 10), ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(60.0, ne) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        })
    if name == "documents":
        return _documents(rng, n["documents"])
    return _embeddings(rng, n["embeddings"])


def write_tables(
    out_dir: str, seed: int, sf: float, only: tuple[str, ...] = TABLES
) -> None:
    """Write the catalog tables named in `only` at scale factor `sf` into
    `out_dir` (one `<name>.parquet` each, the layout `load_table` reads).
    Each table draws from its own random stream, so its rows do not
    depend on which others are written."""
    n = {t: max(int(r * sf), 100) for t, r in _ROWS_SF1.items()}
    n["embeddings"] = max(500, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name in only:
        rng = np.random.default_rng([seed, int(sf * 1e6), TABLES.index(name)])
        pq.write_table(_table(name, rng, n), os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# Play Store CSV pair (FIXTURES.md sections 1-2)
# --------------------------------------------------------------------------

PS_HEADER = [
    "App", "Category", "Rating", "Reviews", "Size", "Installs", "Type",
    "Price", "Content Rating", "Genres", "Last Updated", "Current Ver",
    "Android Ver",
]
REVIEW_HEADER = [
    "App", "Translated_Review", "Sentiment", "Sentiment_Polarity",
    "Sentiment_Subjectivity",
]
CATEGORIES = [
    "ART_AND_DESIGN", "AUTO_AND_VEHICLES", "BEAUTY", "BOOKS_AND_REFERENCE",
    "BUSINESS", "COMICS", "COMMUNICATION", "DATING", "EDUCATION",
    "ENTERTAINMENT", "EVENTS", "FINANCE", "FOOD_AND_DRINK", "GAME",
    "HEALTH_AND_FITNESS", "MAPS_AND_NAVIGATION", "MEDICAL", "PHOTOGRAPHY",
    "PRODUCTIVITY", "SOCIAL", "SPORTS", "TOOLS", "TRAVEL_AND_LOCAL",
]
GENRES = [
    "Art & Design", "Pretend Play", "Auto & Vehicles", "Beauty", "Books",
    "Business", "Comics", "Communication", "Dating", "Education", "Creativity",
    "Entertainment", "Music & Video", "Events", "Finance", "Food & Drink",
    "Action", "Arcade", "Puzzle", "Casual", "Brain Games", "Health & Fitness",
    "Maps & Navigation", "Medical", "Photography", "Productivity", "Social",
    "Sports", "Tools", "Travel & Local", "Role Playing", "Strategy",
    "Simulation", "Racing", "Adventure", "Board", "Card", "Word",
    "Educational", "Trivia", "Lifestyle", "Weather", "Shopping", "News",
    "Personalization", "Video Players", "Parenting", "House & Home",
    "Libraries & Demo", "Casino", "Music", "Action & Adventure",
]
MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
CONTENT = ["Everyone", "Teen", "Mature 17+", "Everyone 10+"]
INSTALLS = ["1,000+", "10,000+", "100,000+", "1,000,000+", "5,000,000+", "500+"]
PLAY_ROWS = 10_840
PLAY_APPS = 9_660


def _app_name(rng, i: int) -> str:
    base = f"{WORDS[int(rng.integers(0, len(WORDS)))].title()} App {i}"
    kind = rng.random()
    if kind < 0.01:
        return f'Alphabet "{base}" Passcode'  # doubled quotes once quoted
    if kind < 0.02:
        return f"{base}, Pro Edition"  # embedded comma, quoted
    if kind < 0.025:
        return f"FR: {base}! "  # trailing space
    return base


def _play_row(rng, app: str) -> list[str]:
    r = rng.random()
    rating = "NaN" if r < 0.13 else f"{rng.uniform(1.0, 5.0):.1f}"
    if rng.random() < 0.03:
        size = f"{int(rng.integers(10, 999))}k"
    elif rng.random() < 0.16:
        size = "Varies with device"
    else:
        size = f"{rng.uniform(1.0, 99.0):.1f}M"
    paid = rng.random() < 0.07
    ng = 2 if rng.random() < 0.05 else 1
    genres = ";".join(GENRES[int(g)] for g in rng.integers(0, len(GENRES), ng))
    if rng.random() < 0.005:
        genres = ""
    day = int(rng.integers(1, 32))
    month = MONTHS[int(rng.integers(0, 12))]
    return [
        app,
        CATEGORIES[int(rng.integers(0, len(CATEGORIES)))],
        rating,
        str(int(rng.integers(0, 80_000_000))),
        size,
        INSTALLS[int(rng.integers(0, len(INSTALLS)))],
        "Paid" if paid else "Free",
        f"${rng.uniform(0.99, 29.99):.2f}" if paid else "0",
        CONTENT[int(rng.integers(0, len(CONTENT)))],
        genres,
        f"{month} {day}, {int(rng.integers(2010, 2019))}",
        f"{int(rng.integers(1, 9))}.{int(rng.integers(0, 20))}.{int(rng.integers(0, 9))}",
        f"{int(rng.integers(2, 6))}.0 and up",
    ]


def _csv_line(fields: list[str]) -> str:
    """One CSV line, quoting the fields that need it (doubled quotes)."""
    out = []
    for v in fields:
        if any(c in v for c in ',"') or v != v.strip():
            v = '"' + v.replace('"', '""') + '"'
        out.append(v)
    return ",".join(out)


def _spark_double(s: str | None) -> float | None:
    """Spark's `try_cast(string AS double)` on the values this generator
    writes: surrounding blanks trimmed, NaN spellings accepted, anything
    else null."""
    if s is None:
        return None
    try:
        return float(s.strip())
    except ValueError:
        return None


def _spark_field(v: str) -> str | None:
    """A field as Spark's CSV reader returns it: empty is null, and a field
    with doubled quotes is kept verbatim, outer quotes included (the
    reader's escape character is a backslash, not a doubled quote)."""
    if v == "":
        return None
    if '"' in v:
        return '"' + v.replace('"', '""') + '"'
    return v


def _parse_csv(path: str) -> list[list[str | None]]:
    """Rows as Spark's PERMISSIVE CSV reader sees them: tokens beyond the
    header width dropped, missing ones null."""
    with open(path, newline="", encoding="utf-8") as f:
        reader = csv.reader(f)
        width = len(next(reader))
        rows = []
        for toks in reader:
            toks = (toks + [""] * width)[:width]
            rows.append([_spark_field(t) for t in toks])
    return rows


def playstore_truth(play_csv: str, reviews_csv: str) -> dict:
    """Expected results of Parts 1-5, derived from the CSV rows alone."""
    ps = _parse_csv(play_csv)
    rv = _parse_csv(reviews_csv)

    polar: dict[str, list[float]] = {}
    for row in rv:
        if row[0] is None:
            continue
        v = _spark_double(row[3])
        polar.setdefault(row[0], [])
        if v is not None:
            polar[row[0]].append(v)
    part1 = {}
    for app, vs in polar.items():
        avg = sum(vs) / len(vs) if vs else float("nan")
        part1[app] = 0.0 if math.isnan(avg) else avg

    best = []
    for row in ps:
        r = _spark_double(row[2])
        if r is not None and not math.isnan(r) and r >= 4.0:
            best.append(row[0].strip())

    apps: dict[str | None, dict] = {}
    for row in ps:
        r = _spark_double(row[2])
        rating = 0.0 if r is None or math.isnan(r) else r
        genres = None if row[9] is None else row[9].split(";")
        a = apps.setdefault(row[0], {"rating": rating, "genres": genres})
        a["rating"] = max(a["rating"], rating)
        if genres is not None and (a["genres"] is None or genres > a["genres"]):
            a["genres"] = genres
    by_genre: dict[str, list[float]] = {}
    for a in apps.values():
        for g in a["genres"] or []:
            by_genre.setdefault(g, []).append(a["rating"])
    return {
        "part1": {"rows": len(part1), "polarity_sum": sum(part1.values())},
        "part2": {"apps": sorted(best)},
        "part3": {
            "rows": len(apps),
            "rating_sum": sum(a["rating"] for a in apps.values()),
        },
        "part5": {
            g: [len(rs), sum(rs) / len(rs)] for g, rs in by_genre.items()
        },
    }


def write_playstore(out_dir: str, seed: int) -> tuple[str, str, dict]:
    """Write googleplaystore.csv (10,840 rows over ~9,660 apps, with a
    short/shifted row and quote-damaged rows) and the user-reviews CSV;
    return both paths and the ground truth of Parts 1-5."""
    rng = np.random.default_rng([seed, 7])
    apps = [_app_name(rng, i) for i in range(PLAY_APPS)]
    rows = [_play_row(rng, a) for a in apps]
    for _ in range(PLAY_ROWS - PLAY_APPS - 4):
        dup = _play_row(rng, apps[int(rng.integers(0, PLAY_APPS))])
        rows.append(dup)  # same App, another Category: multi-element lists
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    lines = [_csv_line(row) for row in rows]
    # The short/shifted row: Category missing, every value one column left.
    lines.insert(
        int(rng.integers(0, len(lines))),
        'Life Made WI-Fi Touchscreen Photo Frame,1.9,19,3.0M,"1,000+",Free,0,'
        'Everyone,,"February 11, 2018",1.0.19,4.0 and up',
    )
    # Quote-damaged rows: the App field lost its quotes, so its comma
    # splits it and every value lands one column right (Rating becomes
    # the category text, the last token is dropped).
    for k in range(3):
        row = _play_row(rng, "")
        line = f"Broken Quote {k}, navigation" + _csv_line(row)
        lines.insert(int(rng.integers(0, len(lines))), line)

    reviewed = [apps[int(i)] for i in rng.choice(PLAY_APPS, 1020, replace=False)]
    reviewed += [f"Unlisted App {i}" for i in range(60)]
    sentiments = ["Positive", "Negative", "Neutral"]
    rv_lines = []
    for i in range(20_000):
        app = reviewed[int(rng.integers(0, len(reviewed)))]
        if rng.random() < 0.3:
            text, sent, pol, subj = "nan", "nan", "nan", "nan"
        else:
            text = " ".join(WORDS[int(j)] for j in rng.integers(0, len(WORDS), 8))
            text = text.capitalize() + ", really."
            sent = sentiments[int(rng.integers(0, 3))]
            pol = f"{rng.uniform(-1.0, 1.0):.6f}"
            subj = f"{rng.uniform(0.0, 1.0):.6f}"
        rv_lines.append([app, text, sent, pol, subj])

    os.makedirs(out_dir, exist_ok=True)
    play_csv = os.path.join(out_dir, "googleplaystore.csv")
    reviews_csv = os.path.join(out_dir, "googleplaystore_user_reviews.csv")
    with open(play_csv, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(PS_HEADER) + "\n")
        f.write("\n".join(lines) + "\n")
    with open(reviews_csv, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(REVIEW_HEADER)
        w.writerows(rv_lines)
    return play_csv, reviews_csv, playstore_truth(play_csv, reviews_csv)
