"""Seeded input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and returns Arrow tables (or plain Python lists) plus the
truth the correctness checks compare against. Nothing here imports
Spark: the generator runs single-threaded in the benchmark process and
the program under test only ever sees the files written from these
tables.

Same seed, same bytes: ``python3 perfbench/gen.py --seed N`` writes every
input twice and compares SHA-256 digests of the parquet bytes.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import io
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: The reference collector's server-side track list (Collector.scala:33).
KEYWORDS = ("#LePen", "#Macron", "#Fillon", "#JLM2017", "#Hamon",
            "#Mélenchon", "#Sarkozy")
NOISE_TAGS = ("#Paris", "#France", "#news", "#Politique", "#debat",
              "#TBT", "#foot", "#meteo", "#Lyon", "#cinema", "#Marseille",
              "#musique", "#OM", "#PSG")
#: user.lang mix: (value, share); "<nouser>" is a NULL user struct.
LANGS = (("fr", 0.40), ("fr-CA", 0.10), ("en", 0.25), ("es", 0.05),
         ("de", 0.05), (None, 0.10), ("<nouser>", 0.05))
KEYWORD_SHARE = 0.55   # rows carrying at least one tracked hashtag
DUP_TEXT_SHARE = 0.30  # rows whose text repeats an earlier row's text
GEO_NULL_SHARE = 0.80
#: Scrub dirt S1-S5: tab, quote, comma, CR/LF, C0 controls and DEL.
DIRT = ("\t", '"', ",", "\r\n", "\n", "\x01", "\x07", "\x1b", "\x7f")
DIRT_SHARE = 0.35      # rows carrying at least one dirt character

WORDS = tuple(
    "le la les un une des et est pour pas sur avec dans vote election "
    "president debat candidat france paris programme meeting sondage "
    "premier tour second campagne europe emploi ecole sante securite "
    "retraite impot jeunes travail economie climat energie agriculture "
    "ce soir demain hier direct video photo merci bravo non oui enfin "
    "tous ensemble peuple republique gauche droite centre liberte".split()
)

#: Paper-era base instant for event times (first round of the 2017
#: French presidential election), naive UTC like the fixture tables.
BASE_TS = dt.datetime(2017, 4, 23, 0, 0)
_EPOCH = dt.datetime(1970, 1, 1)
BASE_US = int((BASE_TS - _EPOCH).total_seconds()) * 1_000_000

RAW_TWEETS_ARROW = pa.schema([
    ("text", pa.string()),
    ("geo", pa.struct([("lat", pa.float64()), ("lon", pa.float64())])),
    ("user", pa.struct([("lang", pa.string())])),
    ("created_at", pa.timestamp("us")),
    ("hashtags", pa.list_(pa.string())),
])


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _sentences(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.integers(0, len(WORDS), size=int(lens.sum()))
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    words = pa.array(WORDS, pa.string()).take(pa.array(idx))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ").to_pylist()


# --------------------------------------------------------------- tweets

def tweets(rng: np.random.Generator, n: int, ts_us: np.ndarray) -> tuple[pa.Table, dict]:
    """RAW_TWEETS rows with the collector's traffic dimensions.

    ``ts_us`` gives each row's created_at (microseconds since epoch).
    Returns the table and its truth: which rows the collector keeps
    (keyword overlap AND user.lang starting with 'fr') and the hashtag
    multiset the trending count sees.
    """
    texts = _sentences(rng, n, 4, 16)
    serial = rng.integers(0, 10**9, size=n)
    texts = [f"{t} {s}" for t, s in zip(texts, serial)]
    dirty = np.nonzero(rng.random(n) < DIRT_SHARE)[0]
    dirt = rng.integers(0, len(DIRT), size=len(dirty))
    cut_at = rng.random(len(dirty))
    for i, d, c in zip(dirty, dirt, cut_at):
        cut = int(c * (len(texts[i]) + 1))
        texts[i] = texts[i][:cut] + DIRT[d] + texts[i][cut:]
    dup = np.nonzero(rng.random(n) < DUP_TEXT_SHARE)[0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    for i, j in zip(dup, src):
        texts[i] = texts[j]

    lang_vals = np.array([v for v, _ in LANGS], dtype=object)
    lang = lang_vals[rng.choice(len(LANGS), size=n, p=[p for _, p in LANGS])]
    no_user = lang == "<nouser>"
    lang_null = no_user | np.equal(lang, None)
    lang_str = np.where(lang_null, "", lang).astype(str)
    keep_lang = ~lang_null & np.char.startswith(lang_str, "fr")
    users = pa.StructArray.from_arrays(
        [pa.array(lang_str, pa.string(), mask=lang_null)], names=["lang"],
        mask=pa.array(no_user))

    has_kw = rng.random(n) < KEYWORD_SHARE
    n_noise = rng.integers(0, 3, size=n)
    n_tags = n_noise + has_kw
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(n_tags, out=offsets[1:])
    tag_vals = np.array(NOISE_TAGS, dtype=object)[
        rng.integers(0, len(NOISE_TAGS), size=int(offsets[-1]))]
    kw_rows = np.nonzero(has_kw)[0]
    last = offsets[kw_rows + 1] - 1
    tag_vals[last] = np.array(KEYWORDS, dtype=object)[
        rng.integers(0, len(KEYWORDS), size=len(kw_rows))]
    # move the keyword to the front of the list in about half the rows
    swap = kw_rows[(n_noise[kw_rows] > 0) & (rng.random(len(kw_rows)) < 0.5)]
    first = offsets[swap]
    tag_vals[first], tag_vals[offsets[swap + 1] - 1] = \
        tag_vals[offsets[swap + 1] - 1], tag_vals[first].copy()
    tags = pa.ListArray.from_arrays(pa.array(offsets), pa.array(tag_vals, pa.string()))

    geo_null = rng.random(n) < GEO_NULL_SHARE
    geo = pa.StructArray.from_arrays(
        [pa.array(np.round(rng.uniform(41.0, 51.0, size=n), 4)),
         pa.array(np.round(rng.uniform(-5.0, 9.0, size=n), 4))],
        names=["lat", "lon"], mask=pa.array(geo_null))
    table = pa.Table.from_arrays(
        [pa.array(texts, pa.string()), geo, users,
         pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")), tags],
        schema=RAW_TWEETS_ARROW,
    )
    kept = has_kw & keep_lang
    return table, {
        "rows": n,
        "kept": int(kept.sum()),
        "fr_rows": int(keep_lang.sum()),
        "keyword_rows": int(has_kw.sum()),
        "hashtags": int(offsets[-1]),
    }


def parquet_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


# ------------------------------------------------------ analyst tables

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_DOC_LANGS = ("en", "fr", "de", "es", "zh")
_DOC_LANG_SHARES = (0.40, 0.15, 0.15, 0.15, 0.15)
_DOC_WORDS = tuple(
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big filter group stream vector".split()
)


def _days(rng, n, start: dt.date, span_days: int) -> np.ndarray:
    base = (dt.datetime.combine(start, dt.time()) - _EPOCH).days
    return (base + rng.integers(0, span_days, size=n)) * 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0


def analyst_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus events/documents at TPC-H scale
    factor ``scale``, shaped like the repository's test fixtures
    (TESTDATA.md, FIXTURES.md): the same tables, column names and types,
    row counts per scale factor (0.1: 600k lineitem, 150k orders, 100k
    events, 5k documents), 2-decimal prices and discounts, 1,500 event
    users per 0.1, and the fixtures' event-type, value and language
    mixes."""
    n_cust, n_supp = int(150_000 * scale), max(25, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_ev, n_doc = int(1_000_000 * scale), max(500, int(50_000 * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(_REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, size=n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    colors, nouns = ("red", "blue", "green", "small", "large", "shiny", "matte", "tiny"), \
        ("ring", "widget", "bolt", "gear", "nut", "screw", "pipe", "valve")
    names = [f"{c} {n}" for c in colors for n in nouns]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names, dtype=object)[rng.integers(0, len(names), size=n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
        "p_type": np.array(("ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE", "STANDARD"),
                           dtype=object)[rng.integers(0, 6, size=n_part)],
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    o_date = _days(rng, n_ord, dt.date(1995, 1, 1), 2405)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_ord),
        "o_orderstatus": np.array(("F", "O", "P"), dtype=object)[rng.integers(0, 3, size=n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, size=n_ord)],
    })
    per = rng.integers(1, 8, size=n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(l_ord)
    starts = np.cumsum(per) - per
    l_line = (np.arange(n_li) - np.repeat(starts, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    l_part = rng.integers(0, n_part, size=n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, size=n_li),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (l_part % 1000) / 10.0) * 100) / 100,
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"), dtype=object)[rng.integers(0, 3, size=n_li)],
        "l_linestatus": np.array(("F", "O"), dtype=object)[rng.integers(0, 2, size=n_li)],
        "l_shipdate": _ts(np.repeat(o_date, per) + rng.integers(1, 122, size=n_li) * 86_400_000_000),
    })
    ev_start = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(ev_start + rng.integers(0, 30 * 86_400_000_000, size=n_ev))),
        "user_id": rng.integers(0, max(150, int(15_000 * scale)), size=n_ev),
        "event_type": np.array(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=n_ev)],
        "value": np.round(rng.exponential(50.0, size=n_ev) * 100) / 100,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
    })
    lens = rng.integers(8, 90, size=n_doc)
    widx = rng.integers(0, len(_DOC_WORDS), size=int(lens.sum()))
    words = np.array(_DOC_WORDS, dtype=object)[widx]
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(words[pos:pos + ln]))
        pos += ln
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_DOC_LANGS, dtype=object)[
            rng.choice(len(_DOC_LANGS), size=n_doc, p=_DOC_LANG_SHARES)],
        "source": [f"src{s}" for s in rng.integers(0, 20, size=n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    return t


def score_table(rng: np.random.Generator, n: int) -> dict[int, int]:
    """Initial lakehouse table: tweet_id -> integer score (integers keep
    the model's sums exact)."""
    return {int(i): int(s) for i, s in enumerate(rng.integers(0, 10_000, size=n))}


def change_batch(rng: np.random.Generator, model: dict[int, int], n: int,
                 next_id: int, insert_share: float = 0.2) -> tuple[list[tuple[int, int]], int]:
    """One upsert batch against ``model``: distinct existing keys updated
    plus fresh keys inserted. Returns (rows, next unused id)."""
    n_ins = int(n * insert_share)
    keys = sorted(model)
    upd = rng.choice(len(keys), size=n - n_ins, replace=False)
    rows = [(keys[i], int(s)) for i, s in zip(upd, rng.integers(0, 10_000, size=len(upd)))]
    rows += [(next_id + j, int(s)) for j, s in enumerate(rng.integers(0, 10_000, size=n_ins))]
    return rows, next_id + n_ins


# --------------------------------------------------------- self-check

def digest_all(seed: int) -> dict[str, str]:
    """SHA-256 of every generated input for ``seed`` (small sizes)."""
    out = {}
    r = rng_for(seed, "tweets")
    tab, _ = tweets(r, 2000, BASE_US + np.arange(2000, dtype=np.int64) * 1000)
    out["tweets"] = hashlib.sha256(parquet_bytes(tab)).hexdigest()
    for name, tab in analyst_tables(rng_for(seed, "analyst"), 0.002).items():
        out[f"analyst.{name}"] = hashlib.sha256(parquet_bytes(tab)).hexdigest()
    r = rng_for(seed, "lakehouse")
    model = score_table(r, 500)
    rows, _ = change_batch(r, model, 50, 500)
    out["lakehouse.changes"] = hashlib.sha256(repr(rows).encode()).hexdigest()
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Check that a seed regenerates byte-identical inputs.")
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    a, b = digest_all(args.seed), digest_all(args.seed)
    for k in sorted(a):
        print(f"{k:24s} {a[k][:16]} {'same' if a[k] == b[k] else 'DIFFERENT'}")
    return 0 if a == b else 1


if __name__ == "__main__":
    sys.exit(main())
