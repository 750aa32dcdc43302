"""Seeded input generators for the three benchmark workloads.

Everything here is plain numpy/pandas/pyarrow: inputs are written to files
before any Spark session exists, so generation never counts as set-up or op
time. The same seed always writes the same bytes.

- ``tpch_tables``: a TPC-H-shaped star schema (region, nation, customer,
  supplier, part, orders, lineitem) with the column names, types and value
  domains of the engine's fixture tables. Rows come from a fixed base seed;
  the run seed only permutes row order and the split into part files, so
  query results do not depend on the run seed.
- ``etl_inputs``: the reference job's inputs -- a CSV with dirty and
  Cyrillic headers, a parquet table, a small XLSX, a CDC changelog and a
  versioned-table merge batch -- derived from generated orders/events rows.
- ``corpus`` / ``vectors``: a document corpus with planted near-duplicates
  and a clustered embedding table with seeded query batches.
"""

from __future__ import annotations

import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_frames(sf: float) -> dict[str, pd.DataFrame]:
    """The star schema at scale factor ``sf`` (lineitem ~6M*sf rows)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 100), max(int(1_500_000 * sf), 500)
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    odate = _dates(rng, n_ord, "1995-01-01", "2001-08-01")
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_li)],
        "l_shipdate": odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
    })
    return out


def write_split(df: pd.DataFrame, path: str, rng: np.random.Generator, n_files: int) -> int:
    """Write ``df`` as a directory of parquet part files with a seed-chosen
    row order and split points. The file count is fixed and each cut moves
    at most a quarter of a part from the even split: a seed-chosen count or
    a lopsided split would change scan parallelism, and with it the timings,
    from seed to seed. Returns the number of files."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df.iloc[rng.permutation(len(df))], preserve_index=False)
    n_files = n_files if len(df) >= 1000 else 1
    part = len(df) / n_files
    cuts = [int(part * i + rng.uniform(-0.25, 0.25) * part) for i in range(1, n_files)]
    bounds = [0, *cuts, len(df)]
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f"{path}/part-{i:03d}.parquet")
    return n_files


def tpch_tables(root: str, sf: float, seed: int) -> dict[str, int]:
    """Write the star schema under ``root/<table>.parquet/``; returns rows per table."""
    rng = np.random.default_rng(seed)
    rows = {}
    for name, df in tpch_frames(sf).items():
        write_split(df, f"{root}/{name}.parquet", rng, n_files=8)
        rows[name] = len(df)
    return rows


# --------------------------------------------------------------------------
# etl_transfer inputs
# --------------------------------------------------------------------------

# The reference's rename map (Wildberries reviews export headers).
RENAME_MAP = {"автор": "author", "дата": "date", "отзыв": "review", "продукт": "product",
              "артикул": "article"}
# Raw CSV headers -> the name the engine's column cleaning must produce
# (lowercase; space, '-', '/' and '\\' become '_'; '?()%$' stripped).
CSV_HEADERS = {
    "Автор": "author", "Дата": "date", "Отзыв": "review", "Продукт": "product",
    "Артикул": "article", "Order Key": "order_key", "Total-Price ($)": "total_price",
    "Ship/Date": "ship_date", "Priority?": "priority",
}
CSV_CASTS = {"date": "date", "ship_date": "date", "article": "bigint", "order_key": "bigint",
             "total_price": "double"}
_REVIEW_WORDS = ("хорошо", "плохо", "быстро", "доставка", "качество", "цена", "товар",
                 "отлично", "good", "fast", "size", "fits", "ok")


def _reviews(rng: np.random.Generator, orders: pd.DataFrame) -> pd.DataFrame:
    n = len(orders)
    words = np.array(_REVIEW_WORDS)[rng.integers(0, len(_REVIEW_WORDS), (n, 4))]
    return pd.DataFrame({
        "Автор": [f"Покупатель {k % 9973}" for k in orders["o_custkey"]],
        "Дата": orders["o_orderdate"].dt.strftime("%Y-%m-%d").to_numpy(),
        "Отзыв": [" ".join(w) for w in words],
        "Продукт": [f"товар-{k % 512}" for k in orders["o_orderkey"]],
        "Артикул": (orders["o_orderkey"].to_numpy() * 7 + 100_000),
        "Order Key": orders["o_orderkey"].to_numpy(),
        "Total-Price ($)": orders["o_totalprice"].to_numpy(),
        "Ship/Date": (orders["o_orderdate"] + pd.to_timedelta(
            rng.integers(1, 30, n), unit="D")).dt.strftime("%Y-%m-%d").to_numpy(),
        "Priority?": orders["o_orderpriority"].to_numpy(),
    })


def expected_ingest(raw: pd.DataFrame) -> pd.DataFrame:
    """What clean + rename + casts must turn a raw reviews frame into,
    computed without the engine: header map applied, dates parsed."""
    out = raw.rename(columns=CSV_HEADERS)
    for c in ("date", "ship_date"):
        out[c] = pd.to_datetime(out[c]).dt.date
    return out


def write_xlsx(path: str, df: pd.DataFrame) -> None:
    """Minimal single-sheet XLSX (inline strings, numeric cells)."""
    def col(i: int) -> str:
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    def cell(ref: str, v) -> str:
        if isinstance(v, (int, float, np.integer, np.floating)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    rows = [list(df.columns), *df.itertuples(index=False, name=None)]
    body = "".join(
        f'<row r="{r + 1}">' + "".join(cell(f"{col(c)}{r + 1}", v) for c, v in enumerate(row)) + "</row>"
        for r, row in enumerate(rows)
    )
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/></Relationships>'),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} xmlns:r="{rel}"><sheets>'
            '<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/></Relationships>'),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}><sheetData>{body}</sheetData></worksheet>'),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in parts.items():
            zf.writestr(name, text)


def etl_inputs(root: str, sf: float, seed: int) -> dict:
    """Write the etl_transfer inputs and, under ``root/expected/``, the
    frames each op must reproduce, computed here with pandas only. Sizes
    follow ``sf`` (sf0.1: 30k-row CSV chunks, 150k-row lineitem slice, 20k
    Derby rows, 30k-event changelog). Returns expectation paths and sizes."""
    rng = np.random.default_rng(seed)
    frames = tpch_frames(sf)
    orders = frames["orders"]
    n_csv = max(int(300_000 * sf), 200)
    pick = np.sort(rng.choice(len(orders), min(2 * n_csv, len(orders)), replace=False))
    a, b = orders.iloc[pick[: len(pick) // 2]], orders.iloc[pick[len(pick) // 2:]]
    raw_a, raw_b = _reviews(rng, a), _reviews(rng, b)
    os.makedirs(root, exist_ok=True)
    raw_a.to_csv(f"{root}/reviews_a.csv", index=False)
    raw_b.to_csv(f"{root}/reviews_b.csv", index=False)

    xlsx = _reviews(rng, orders.iloc[rng.choice(len(orders), max(int(2_000 * sf), 40), replace=False)])
    xlsx = xlsx[["Автор", "Отзыв", "Артикул", "Total-Price ($)", "Priority?"]]
    write_xlsx(f"{root}/lookup.xlsx", xlsx)

    li = frames["lineitem"]
    li = li.iloc[rng.permutation(len(li))[: len(li) // 4]]
    write_split(li, f"{root}/lineitem.parquet", rng, n_files=6)

    n_jdbc = max(int(200_000 * sf), 200)
    jdbc = orders.iloc[np.sort(rng.choice(len(orders), n_jdbc, replace=False))][
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    ].reset_index(drop=True)
    pq.write_table(pa.Table.from_pandas(jdbc, preserve_index=False), f"{root}/jdbc_src.parquet")

    # CDC changelog over event ids: inserts, updates and deletes with a
    # strictly increasing per-key sequence; the final state is computed
    # here and must match both the batch and the streaming apply.
    n_keys = max(int(100_000 * sf), 100)
    n_ev = 3 * n_keys
    key = rng.integers(0, n_keys, n_ev).astype(np.int64)
    seq = rng.permutation(n_ev).astype(np.int64)
    op = np.array(("I", "U", "D"))[rng.choice(3, n_ev, p=(0.3, 0.55, 0.15))]
    cdc = pd.DataFrame({
        "event_id": key, "seq": seq, "op": op,
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 500, n_ev), 2),
    })
    pq.write_table(pa.Table.from_pandas(cdc, preserve_index=False), f"{root}/changelog.parquet")
    last = cdc.loc[cdc.groupby("event_id")["seq"].idxmax()]
    cdc_final = last[last["op"] != "D"].drop(columns=["op", "seq"]).reset_index(drop=True)

    # versioned table: base snapshot + a merge batch (updates, deletes via
    # the delete condition, inserts of new keys)
    n_base = max(int(100_000 * sf), 100)
    base = pd.DataFrame({
        "k": np.arange(n_base, dtype=np.int64),
        "qty": rng.integers(0, 100, n_base).astype(np.int64),
        "price": np.round(rng.uniform(1, 1000, n_base), 2),
    })
    upd_keys = rng.choice(n_base, n_base // 10, replace=False)
    ins_keys = np.arange(n_base, n_base + n_base // 20)
    upd = pd.DataFrame({
        "k": np.concatenate([upd_keys, ins_keys]).astype(np.int64),
        "qty": rng.integers(0, 100, len(upd_keys) + len(ins_keys)).astype(np.int64),
        "price": np.round(rng.uniform(1, 1000, len(upd_keys) + len(ins_keys)), 2),
    })
    pq.write_table(pa.Table.from_pandas(base, preserve_index=False), f"{root}/vbase.parquet")
    pq.write_table(pa.Table.from_pandas(upd, preserve_index=False), f"{root}/vupdates.parquet")
    # MERGE: matched rows whose new qty is 0..9 are deleted, other matched
    # rows take the source values, unmatched source rows are inserted.
    merged = base.set_index("k")
    src = upd.set_index("k")
    matched = src.index.intersection(merged.index)
    deleted = matched[src.loc[matched, "qty"] < 10]
    kept = matched.difference(deleted)
    merged.loc[kept, ["qty", "price"]] = src.loc[kept, ["qty", "price"]]
    merged = pd.concat([merged.drop(index=deleted), src.loc[src.index.difference(merged.index)]])
    merged = merged.reset_index()

    expected = {
        "ingest_a": expected_ingest(raw_a), "ingest_b": expected_ingest(raw_b),
        "xlsx": xlsx.rename(columns=CSV_HEADERS), "transfer": li.rename(columns=lambda c: c[2:]),
        "jdbc": jdbc, "cdc": cdc_final, "vbase": base, "vmerged": merged,
    }
    # expectations are stored as parquet so the check side loads them with
    # a plain scan instead of a pandas -> JVM conversion
    os.makedirs(f"{root}/expected", exist_ok=True)
    for name, frame in expected.items():
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), f"{root}/expected/{name}.parquet")
    sizes = {"csv_rows": len(raw_a), "xlsx_rows": len(xlsx), "transfer_rows": len(li),
             "jdbc_rows": len(jdbc), "jdbc_key_max": int(jdbc["o_orderkey"].max()), "cdc_events": len(cdc),
             "vbase_rows": len(base), "vupdate_rows": len(upd)}
    return {"expected": {k: f"{root}/expected/{k}.parquet" for k in expected},
            "columns": {k: list(v.columns) for k, v in expected.items()}, "sizes": sizes}


# --------------------------------------------------------------------------
# llm_curation inputs
# --------------------------------------------------------------------------

# Per-language stopwords of the engine's language-ID heuristic; documents
# in these languages carry some, 'zh' documents carry none.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "dans", "un", "une"),
    "es": ("el", "los", "de", "que", "es", "un", "una", "y"),
}
LANGS = ("en", "de", "fr", "es", "zh")


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    syl = np.array(["ka", "lo", "mi", "ra", "te", "su", "vo", "ne", "pi", "da", "ge", "ho", "zu", "ri", "ba"])
    words = {"".join(syl[rng.integers(0, len(syl), rng.integers(2, 5))]) for _ in range(3 * n)}
    return np.array(sorted(words)[:n])


def corpus(root: str, n_orig: int, variants: int, seed: int, threshold: float = 0.5) -> dict:
    """Write ``documents.parquet`` (doc_id, text, lang): ``n_orig`` originals,
    each followed by ``variants - 1`` seeded edits (tail truncation, one-word
    substitution, or an exact copy). Returns the planted near-dup pairs whose
    word-3-gram Jaccard is >= ``threshold`` and the doc texts."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    docs: list[tuple[int, str, str]] = []
    planted: set[tuple[int, int]] = set()
    for g in range(n_orig):
        lang = LANGS[int(rng.choice(5, p=(0.4, 0.15, 0.15, 0.15, 0.15)))]
        n_words = int(rng.integers(30, 90))
        words = list(vocab[rng.integers(0, len(vocab), n_words)])
        if lang != "zh":
            stops = STOPWORDS[lang]
            for pos in rng.choice(n_words, n_words // 8, replace=False):
                words[pos] = stops[int(rng.integers(0, len(stops)))]
        if rng.random() < 0.2:
            words[int(rng.integers(0, n_words))] = f"user{int(rng.integers(0, 9999))}@mail.example"
        if rng.random() < 0.2:
            words[int(rng.integers(0, n_words))] = f"555-{int(rng.integers(1000, 9999))}-{int(rng.integers(10, 99))}"
        group = []
        for v in range(variants):
            w = list(words)
            kind = int(rng.integers(0, 3)) if v else -1
            if kind == 0:
                w = w[: len(w) - int(rng.integers(1, 4))]
            elif kind == 1:
                w[int(rng.integers(0, len(w)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            doc_id = g * variants + v
            docs.append((doc_id, " ".join(w), lang))
            group.append(doc_id)
        for i in range(len(group)):
            for j in range(i + 1, len(group)):
                planted.add((group[i], group[j]))
    df = pd.DataFrame(docs, columns=["doc_id", "text", "lang"])
    os.makedirs(root, exist_ok=True)
    write_split(df, f"{root}/documents.parquet", rng, n_files=4)
    sh = {d: shingle_set(t) for d, t, _ in docs}
    planted = {p for p in planted if jaccard(sh[p[0]], sh[p[1]]) >= threshold}
    return {"docs": df, "planted": planted, "shingles": sh}


def shingle_set(text: str, n: int = 3) -> frozenset:
    w = text.split(" ")
    return frozenset(tuple(w[i:i + n]) for i in range(len(w) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if (a or b) else 0.0


def vectors(root: str, n: int, dim: int, n_queries: int, seed: int) -> dict:
    """Write ``embeddings.parquet`` (vec_id, embedding array<float>, label):
    ``n`` vectors around 10 cluster centres, plus a seeded query batch and
    the exact cosine top-10 of every query (brute force, numpy)."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vec = (centres[label] + 0.6 * rng.normal(size=(n, dim))).astype(np.float32)
    df = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vec),
                       "label": label.astype(np.int32)})
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), f"{root}/embeddings.parquet")
    qi = rng.choice(n, n_queries, replace=False)
    q = vec[qi].astype(np.float64) + 0.05 * rng.normal(size=(n_queries, dim))
    unit = vec.astype(np.float64) / np.linalg.norm(vec, axis=1, keepdims=True)
    qu = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = qu @ unit.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :10]
    queries = [(int(i), [float(x) for x in q[i]]) for i in range(n_queries)]
    return {"queries": queries, "exact_top10": {i: set(map(int, top[i])) for i in range(n_queries)}}
