"""Seeded input generator for the wage-engine benchmark.

The seed is the only input. `tables` writes the star-schema tables the
query workloads read (the schema and value shapes of the engine's test
corpus, at a chosen scale). `pipeline` writes the two files the ETL DAG
ingests, an OEWS wage page (HTML) and an O*NET Skills workbook (xlsx),
and returns the ground truth for them, computed here from the generated
values and never from the engine's output.
"""
import datetime as dt
import json
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at scale factor 1; the small dimension tables and the
# text/vector tables do not scale below sf0.01, like the test corpus
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
          "users": 15_000}
FIXED = {"documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the data spark query table row column join hash sort merge "
         "scan filter group agg window stream batch key value part order "
         "line customer vector big small fast slow").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(table: pa.Table, path) -> None:
    pq.write_table(table, str(path), compression="snappy")


def _days(rng, start: dt.date, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(seed: int, out_dir, sf: float) -> None:
    """Write the ten query tables for `seed` at scale factor `sf`."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(round(v * sf))) for k, v in PER_SF.items()}
    i32, i64 = pa.int32(), pa.int64()

    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": REGIONS}), out_dir / "region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           out_dir / "nation.parquet")

    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)],
    }), out_dir / "customer.parquet")

    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }), out_dir / "supplier.parquet")

    p = n["part"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1),
    }), out_dir / "part.parquet")

    o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, o),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, o)],
    }), out_dir / "orders.parquet")

    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": np.round(rng.uniform(0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, li),
    }), out_dir / "lineitem.parquet")

    e = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, e))
    _write(pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), i64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, e)],
        "value": np.maximum(np.round(rng.exponential(50, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }), out_dir / "events.parquet")

    # ~5% of documents are a near-duplicate of another: its text plus a
    # trailing "dup" token, the shape the dedup queries look for
    d = FIXED["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), ln))
             for ln in rng.integers(10, 100, d)]
    dups = rng.choice(d, size=d // 20, replace=False)
    for i in dups:
        j = int(rng.integers(0, d))
        if j not in dups and j != i:
            texts[i] = texts[j] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(5, size=d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    }), out_dir / "documents.parquet")

    m = FIXED["embeddings"]
    vec = rng.standard_normal((m, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), i32),
    }), out_dir / "embeddings.parquet")


# ---------------------------------------------------------------- pipeline

OEWS_ROWS = 736
ONET_CODES = 894          # O*NET-SOC codes; 774 distinct major.minor parts
ONET_SPLIT = 774
ONET_MATCHED = 680        # split parts that also appear in the OEWS page
ELEMENTS = 35

OEWS_HEADER = [
    "Occupation (SOC code)", "Employment(1)",
    "Employment percent relative standard error(3)", "Hourly mean wage()",
    "Annual mean wage(2)", "Wage percent relative standard error(3)",
    "Hourly 10th percentile wage()", "Hourly 25th percentile wage()",
    "Hourly median wage()", "Hourly 75th percentile wage()",
    "Hourly 90th percentile wage()", "Annual 10th percentile wage(2)",
    "Annual 25th percentile wage(2)", "Annual median wage(2)",
    "Annual 75th percentile wage(2)", "Annual 90th percentile wage(2)",
    "Employment per 1,000 jobs()", "Location Quotient()"]
# cleaned column name and kind for each raw column after the first:
# "int" (thousands commas), "money" ($, cents), "annual" ($, commas,
# whole dollars), or "real" (plain decimal)
OEWS_COLUMNS = [
    ("employment", "int"), ("employment_percent_relative_std_error", "real"),
    ("hourly_mean_wage", "money"), ("annual_mean_wage", "annual"),
    ("wage_percent_relative_std_error", "real"),
    ("hourly_10th_percentile_wage", "money"),
    ("hourly_25th_percentile_wage", "money"),
    ("hourly_median_wage", "money"), ("hourly_75th_percentile_wage", "money"),
    ("hourly_90th_percentile_wage", "money"),
    ("annual_10th_percentile_wage", "annual"),
    ("annual_25th_percentile_wage", "annual"),
    ("annual_median_wage", "annual"), ("annual_75th_percentile_wage", "annual"),
    ("annual_90th_percentile_wage", "annual"),
    ("employment_per_1000_jobs", "real"), ("location_quotient", "real")]
OEWS_CLEANED = ["soc_code", "occupation"] + [c for c, _ in OEWS_COLUMNS]

ONET_HEADER = [
    "O*NET-SOC Code", "Title", "Element ID", "Element Name", "Scale ID",
    "Scale Name", "Data Value", "N", "Standard Error", "Lower CI Bound",
    "Upper CI Bound", "Recommend Suppress", "Not Relevant", "Date",
    "Domain Source"]
ONET_CLEANED = [
    "onet_soc_code", "title", "element_id", "element_name", "scale_id",
    "scale_name", "data_value", "n", "standard_error", "lower_ci_bound",
    "upper_ci_bound", "recommend_suppress", "not_relevant", "date",
    "domain_source"]

JOB_WORDS = ("Managers Analysts Engineers Technicians Operators Clerks "
             "Specialists Workers Assistants Inspectors Installers "
             "Mechanics Designers Planners Scientists Teachers Agents "
             "Supervisors Repairers Drivers").split()
FIELD_WORDS = ("Sales Marketing Financial Computer Civil Electrical Food "
               "Medical Legal Office Production Transportation Farming "
               "Construction Maintenance Protective Personal Education "
               "Library Media Chemical Water Energy Retail").split()


def _oews_cell(rng, kind: str):
    """One raw OEWS cell and its cleaned value (None when suppressed)."""
    prefix = "()" if rng.random() < 0.8 else f"({int(rng.integers(1, 10))})"
    if rng.random() < 0.05:
        return f"({int(rng.integers(1, 10))})-", None
    if kind == "int":
        v = int(rng.integers(30, 2_500_000))
        return f"{prefix}{v:,}", v
    if kind == "annual":
        v = int(rng.integers(20_000, 240_000))
        return f"{prefix}${v:,}", v
    if kind == "money":
        cents = int(rng.integers(900, 12_000))
        text = f"{cents // 100:,}.{cents % 100:02d}"
        return f"{prefix}${text}", float(text.replace(",", ""))
    tenths = int(rng.integers(1, 30_000))
    text = f"{tenths // 1000:,}.{tenths % 1000:03d}"
    return f"{prefix}{text}", float(text.replace(",", ""))


def _oews(rng):
    majors = sorted(rng.choice(np.arange(11, 54), size=22, replace=False))
    codes = set()
    while len(codes) < OEWS_ROWS - 1:
        codes.add(f"{int(rng.choice(majors))}-{int(rng.integers(1000, 9999))}")
    codes = ["00-0000"] + sorted(codes)
    rows, truth = [], []
    for i, soc in enumerate(codes):
        if i == 0:
            name = "All Occupations"
        else:
            words = [FIELD_WORDS[int(k)] for k in rng.integers(0, 24, 2)]
            name = f"{words[0]} and {words[1]} {JOB_WORDS[int(rng.integers(0, 20))]}"
            if rng.random() < 0.3:   # the cleaner strips commas from names
                name = name.replace(" and ", ", ", 1)
        cells = [_oews_cell(rng, kind) for _, kind in OEWS_COLUMNS]
        rows.append([f"{name} ({soc})"] + [c for c, _ in cells])
        truth.append([soc, name.replace(",", "")] + [v for _, v in cells])
    return rows, truth


def _html(rows) -> str:
    th = "".join(f"<th>{escape(h)}</th>" for h in OEWS_HEADER)
    body = "\n".join(
        "<tr>" + "".join(f"<td>{escape(c)}</td>" for c in r) + "</tr>"
        for r in rows)
    footer = ('<tr><td colspan="18">Footnotes: (1) Estimates do not include '
              'self-employed workers.</td></tr>\n<tr><td colspan="18">'
              'SOC code: Standard Occupational Classification code</td></tr>')
    decoy = ("<table><thead><tr><th>Area</th><th>Period</th></tr></thead>"
             "<tbody><tr><td>State</td><td>May 2024</td></tr></tbody></table>")
    return ("<!DOCTYPE html><html><head><title>OEWS state estimates</title>"
            "</head><body><div id=\"nav\">" + "<a href=\"#\">link</a>" * 50 +
            f"</div>{decoy}<table id=\"oes\"><thead><tr>{th}</tr></thead>"
            f"<tbody>\n{body}\n{footer}\n</tbody></table></body></html>")


def _onet(rng, oews_codes):
    """Skills rows (raw cell text) and their cleaned values."""
    others = set()
    while len(others) < ONET_SPLIT - ONET_MATCHED:
        code = f"{int(rng.integers(11, 54))}-{int(rng.integers(1000, 9999))}"
        if code not in oews_codes:
            others.add(code)
    matched = list(rng.choice(sorted(oews_codes - {"00-0000"}),
                              size=ONET_MATCHED, replace=False))
    split = sorted(matched + sorted(others))
    extra = rng.choice(ONET_SPLIT, size=ONET_CODES - ONET_SPLIT, replace=False)
    codes = [f"{s}.00" for s in split] + [f"{split[k]}.01" for k in extra]
    codes.sort()
    elements = [(f"2.{'ABC'[k % 3]}.{k // 3 + 1}.{'abcd'[k % 4]}",
                 f"Skill {WORDS[k % len(WORDS)].title()} {k}")
                for k in range(ELEMENTS)]
    raw, clean = [], []
    for ci, code in enumerate(codes):
        title = (f"{FIELD_WORDS[int(rng.integers(0, 24))]} "
                 f"{JOB_WORDS[int(rng.integers(0, 20))]} {ci}")
        month = int(rng.integers(0, 182))          # 2010-06 .. 2025-07
        y, mo = 2010 + (month + 5) // 12, (month + 5) % 12 + 1
        date_raw, date_clean = f"{mo:02d}/{y}", f"{y}-{mo:02d}-01 00:00:00"
        source = "Analyst" if rng.random() < 0.7 else "Incumbent"
        for eid, ename in elements:
            for scale, sname, top in (("IM", "Importance", 5), ("LV", "Level", 7)):
                value = round(float(rng.uniform(1 if scale == "IM" else 0, top)), 2)
                n = int(rng.integers(8, 40))
                if rng.random() < 0.03:
                    se = lo = hi = None
                else:
                    se = round(float(rng.uniform(0.05, 0.6)), 4)
                    lo, hi = round(value - 2 * se, 4), round(value + 2 * se, 4)
                supp = "Y" if rng.random() < 0.02 else "N"
                nrel = None if scale == "IM" else ("Y" if rng.random() < 0.1 else "N")
                vals = [code, title, eid, ename, scale, sname, value, n, se,
                        lo, hi, supp, nrel, date_raw, source]
                raw.append(vals)
                clean.append(vals[:13] + [date_clean, source])
    return raw, clean


def _col(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _xlsx(path, header, rows) -> None:
    """A minimal SpreadsheetML workbook: strings shared, numbers inline,
    None cells absent (as Excel writes sparse rows)."""
    sst, index = [], {}

    def sid(text):
        if text not in index:
            index[text] = len(sst)
            sst.append(text)
        return index[text]

    letters = [_col(i) for i in range(len(header))]
    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<worksheet xmlns="http://schemas.openxmlformats.org/'
           'spreadsheetml/2006/main"><sheetData>']
    for r, row in enumerate([header] + rows, start=1):
        cells = []
        for letter, v in zip(letters, row):
            if v is None:
                continue
            if isinstance(v, str):
                cells.append(f'<c r="{letter}{r}" t="s"><v>{sid(v)}</v></c>')
            else:
                cells.append(f'<c r="{letter}{r}"><v>{v!r}</v></c>')
        out.append(f'<row r="{r}">{"".join(cells)}</row>')
    out.append("</sheetData></worksheet>")
    strings = "".join(f"<si><t>{escape(s)}</t></si>" for s in sst)
    ns = "http://schemas.openxmlformats.org"
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="'
            f'{ns}/package/2006/content-types"><Default Extension="rels" '
            f'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="'
            'application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.sharedStrings+xml"/></Types>',
        "_rels/.rels":
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="'
            f'{ns}/package/2006/relationships"><Relationship Id="rId1" Type="'
            f'{ns}/officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}/'
            f'spreadsheetml/2006/main" xmlns:r="{ns}/officeDocument/2006/'
            'relationships"><sheets><sheet name="Skills" sheetId="1" '
            'r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="'
            f'{ns}/package/2006/relationships"><Relationship Id="rId1" Type="'
            f'{ns}/officeDocument/2006/relationships/worksheet" Target="'
            'worksheets/sheet1.xml"/><Relationship Id="rId2" Type="'
            f'{ns}/officeDocument/2006/relationships/sharedStrings" Target="'
            'sharedStrings.xml"/></Relationships>',
        "xl/worksheets/sheet1.xml": "".join(out),
        "xl/sharedStrings.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<sst xmlns="{ns}/spreadsheetml/2006/main" count="{len(sst)}" '
            f'uniqueCount="{len(sst)}">{strings}</sst>',
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            # fixed timestamp: the same seed must give the same bytes
            z.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)),
                       text.encode("utf-8"), zipfile.ZIP_DEFLATED)


def pipeline(seed: int, out_dir) -> dict:
    """Write oews.html and skills.xlsx for `seed`; return (and write as
    truth.json) the cleaned rows, counts, join count and top-10 the
    pipeline must produce from them."""
    rng = np.random.default_rng([seed, 2])
    oews_raw, oews = _oews(rng)
    (out_dir / "oews.html").write_text(_html(oews_raw), encoding="utf-8")
    by_soc = {r[0]: r for r in oews}
    onet_raw, onet = _onet(rng, set(by_soc))
    _xlsx(out_dir / "skills.xlsx", ONET_HEADER, onet_raw)

    wage_col = OEWS_CLEANED.index("annual_mean_wage")
    titles, joined = {}, 0
    for row in onet:
        hit = by_soc.get(row[0].split(".")[0])
        if hit is not None:
            joined += 1
            titles.setdefault(row[1], hit[wage_col])
    ranked = sorted(((t, float(w)) for t, w in titles.items() if w is not None),
                    key=lambda tw: (-tw[1], tw[0]))
    truth = {
        "oews_columns": OEWS_CLEANED, "oews": oews,
        "onet_columns": ONET_CLEANED, "onet": onet,
        "join_rows": joined,
        "avg_view_rows": len({r[0].split(".")[0] for r in onet}),
        "top10": [list(tw) for tw in ranked[:10]],
    }
    (out_dir / "truth.json").write_text(json.dumps(truth), encoding="utf-8")
    return truth


def _canon(v):
    return float(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else v


def check_pipeline(truth: dict, got: dict) -> list:
    """Compare a pipeline result with the ground truth; return one
    message per mismatch (empty when the result is exact).

    `got` holds "oews" and "onet" (rows in the truth's column order,
    sorted by their first two columns), "join_rows", "avg_view_rows" and
    "top10" ([title, wage] pairs in rank order)."""
    bad = []
    for table, key in (("oews", (0, 1)), ("onet", (0, 2, 4))):
        want = sorted(truth[table], key=lambda r: [r[k] for k in key])
        have = sorted(got[table], key=lambda r: [r[k] for k in key])
        if len(want) != len(have):
            bad.append(f"{table}: {len(have)} rows, expected {len(want)}")
            continue
        cols = truth[f"{table}_columns"]
        for w, h in zip(want, have):
            diff = [c for c, a, b in zip(cols, w, h) if _canon(a) != _canon(b)]
            if diff:
                bad.append(f"{table} row {w[:2]}: {diff[0]} is {h[cols.index(diff[0])]!r}, "
                           f"expected {w[cols.index(diff[0])]!r}")
                break
    for k in ("join_rows", "avg_view_rows"):
        if got[k] != truth[k]:
            bad.append(f"{k}: {got[k]}, expected {truth[k]}")
    if [[t, w and float(w)] for t, w in got["top10"]] != truth["top10"]:
        bad.append(f"top10: {got['top10']}, expected {truth['top10']}")
    return bad
