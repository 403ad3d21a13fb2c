"""Seeded grid fixtures for the ETL workloads, and the expected warehouse.

Fixtures follow FIXTURES.md: one JSON file per (spreadsheet, sheet) in the
Sheets `ValueRange` shape (section 1) and one ETL config (section 2).
Everything here derives from the seed alone, including the mutations that
precede a delta tick.

The expected model re-states the load semantics (trim, header resolution,
projection, skipRows, null padding, `_origin_row`, column-name
normalization) independently of the program, and reduces each target table
to an order-independent fingerprint that the harness also computes from
what the program actually wrote.
"""
import hashlib
import json
import os
import random
import re
import unicodedata

# Raw header cells. Untrimmed, duplicated and non-ASCII names on purpose;
# "#" normalizes to "_" when used as an output name.
HEADERS = ["Name ", "Émail Address", "Status", "Status", "#", "Größe",
           " Amount", "Date", "Notes", "City", "Zip Code", "Qty", "Prix €",
           "Owner", "Région", "ID", "Phone", "Country", "Score", "Tag"]

# Output names (config keys). Several normalize to the same name, so the
# later one falls back to col_<n>; some start with a digit or hold only
# punctuation.
OUT_NAMES = ["name", "Émail", "e-mail", "EMAIL", "status", "2nd status",
             "Größe", "amount ($)", "date", "notes", "city", "zip code",
             "qty", "prix", "owner", "région", "id", "#", "phone", "country",
             "score", "tag", "col_7", "Ünïcödé", "total", "flag"]

WORDS = ["alpha", "beta", "gamma", "delta", "DONE", "active", "x", "y",
         "Zoë", "naïve", "café", "42", "7.5", "2026-05-01", "n/a", "Ørsted",
         "東京", "über", "plain", "value"]

ID_CHARS = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_-"

SHAPES = {
    # spreadsheets, rows per sheet (min, max), header columns, mapped
    # columns (min, max), targets, content changes, touch-only changes
    "etl_fleet": dict(sheets=4, rows=(32, 48), cols=6, mapped=(3, 5),
                      targets=3, content=1, touch=1),
    "etl_wide": dict(sheets=3, rows=(9000, 11000), cols=16, mapped=(12, 14),
                     targets=2, content=1, touch=1),
}


def _cell(rng):
    w = rng.choice(WORDS)
    r = rng.random()
    if r < 0.15:
        return " " + w + " "  # untrimmed
    if r < 0.20:
        return ""
    if r < 0.25:
        return "  "  # trims to empty
    return w + str(rng.randrange(1000)) if r < 0.6 else w


def _grid(rng, n_rows, n_cols, title):
    """A raw grid: optional title row, the header row, then ragged data rows
    (trailing cells missing) with the odd empty row."""
    header = [HEADERS[i % len(HEADERS)] for i in range(n_cols)]
    rng.shuffle(header)
    values = [["Report " + title]] if title else []
    values.append(header)
    for _ in range(n_rows):
        if rng.random() < 0.03:
            values.append([])
            continue
        width = rng.randint(max(1, n_cols - 3), n_cols)
        values.append([_cell(rng) for _ in range(width)])
    return values


def _sheet_id(rng):
    return "".join(rng.choice(ID_CHARS) for _ in range(44))


def _stamp(day, minute):
    return "2026-%02d-%02dT%02d:%02d:00.000Z" % (5 + day // 28, 1 + day % 28,
                                                 minute // 60 % 24, minute % 60)


def generate(workload, seed):
    """Return (sheets, config, mutations) for one workload and seed.

    sheets: list of dicts {file, spreadsheetId, sheetName, modifiedTime,
    name, values}; config: ordered dict in the FIXTURES.md section 2 shape;
    mutations: {"content": [...], "touch": [...]} of replacement sheets.
    """
    shape = SHAPES[workload]
    rng = random.Random("%s/%d" % (workload, seed))
    sheets, config = [], {}
    for i in range(shape["sheets"]):
        gid = _sheet_id(rng)
        sheet_name = rng.choice(["2019 Expirations", "Données", "Sheet1",
                                 "Q3 report", "Übersicht"]) + " %d" % i
        title = rng.random() < 0.25 or i == 1  # every fleet has a title row
        values = _grid(rng, rng.randint(*shape["rows"]), shape["cols"],
                       sheet_name if title else None)
        header_row = 1 if title else 0
        skip_rows = header_row + 1 + (1 if rng.random() < 0.2 else 0)
        trimmed_header = [c.strip() for c in values[header_row]]
        picked = rng.sample(range(shape["cols"]), rng.randint(*shape["mapped"]))
        outs = rng.sample(OUT_NAMES, len(picked))
        mapping = {}
        for out, col in zip(outs, picked):
            # a name specifier resolves first-match, so a duplicated header
            # name is only usable as an index to reach its second copy
            first = trimmed_header.index(trimmed_header[col])
            by_name = first == col and rng.random() < 0.6
            mapping[out] = trimmed_header[col] if by_name else col
        sheets.append(dict(file="s%03d.json" % i, spreadsheetId=gid,
                           sheetName=sheet_name,
                           modifiedTime=_stamp(0, 5 * i),
                           name="Fleet spreadsheet %d" % i, values=values))
        config[gid] = {sheet_name: dict(
            targetTable="target_%02d" % (i % shape["targets"]),
            columnMapping=mapping, headerRow=header_row, skipRows=skip_rows)}
    order = rng.sample(range(len(sheets)), shape["content"] + shape["touch"])
    mutations = {"content": [], "touch": []}
    for k, i in enumerate(order):
        changed = dict(sheets[i], modifiedTime=_stamp(30, 5 * k))
        if k < shape["content"]:
            values = [list(r) for r in changed["values"]]
            first_data = config[changed["spreadsheetId"]][changed["sheetName"]]["skipRows"]
            for r in range(first_data, len(values)):
                if values[r] and rng.random() < 0.3:
                    values[r][0] = values[r][0] + " (edited)"
            values.append([_cell(rng) for _ in range(shape["cols"])])
            changed["values"] = values
            mutations["content"].append(changed)
        else:
            mutations["touch"].append(changed)
    return sheets, config, mutations


def write_sheet(directory, sheet):
    doc = {k: sheet[k] for k in ("spreadsheetId", "sheetName", "modifiedTime",
                                 "name", "values")}
    with open(os.path.join(directory, sheet["file"]), "w", encoding="utf-8") as f:
        json.dump(doc, f, ensure_ascii=False)


def write_fixtures(workdir, workload, seed):
    """Write base/, delta/ and config.json under workdir; return the model
    inputs (sheets, config, mutations)."""
    sheets, config, mutations = generate(workload, seed)
    for sub, items in (("base", sheets),
                       ("delta", mutations["content"] + mutations["touch"])):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
        for s in items:
            write_sheet(os.path.join(workdir, sub), s)
    with open(os.path.join(workdir, "config.json"), "w", encoding="utf-8") as f:
        json.dump(config, f, ensure_ascii=False)
    return sheets, config, mutations


# ---------------------------------------------------------------- model

def _transliterate(s):
    decomposed = unicodedata.normalize("NFKD", s)
    stripped = "".join(c for c in decomposed
                       if not unicodedata.category(c).startswith("M"))
    return "".join(c for c in stripped if ord(c) < 128)


def normalize_names(columns):
    """Output-name normalization (FIXTURES.md section 4)."""
    out = []
    for index, raw in enumerate(columns):
        c = re.sub(r"[^a-z0-9_ ]", "", _transliterate(raw).lower()).strip()
        if not re.match(r"^[a-z_]", c):
            c = "_" + c
        if re.fullmatch(r"col_[0-9]+", c) or not c or c in out:
            c = "col_%d" % (index + 1)
        out.append(c)
    return out


def expected_rows(values, job):
    """Rows one job loads: {column: value-or-None} dicts in _origin_row
    order."""
    grid = [[c.strip() for c in row] for row in values]
    header = grid[job.get("headerRow", 0)]
    selectors = []
    for spec in job["columnMapping"].values():
        if isinstance(spec, int):
            if spec >= len(header):
                raise ValueError("Column index out of bounds: %d" % spec)
            selectors.append(spec)
        else:
            selectors.append(header.index(spec))
    names = normalize_names(list(job["columnMapping"].keys()))
    return [{n: (row[s] if s < len(row) else None)
             for n, s in zip(names, selectors)}
            for row in grid[job.get("skipRows", 1):]]


def row_digest(gid, sheet, origin_row, columns, row):
    """SHA-256 of one target row; `columns` is the table's sorted data
    column list, `row` maps column -> value (absent or None = NULL)."""
    parts = [gid, sheet, str(origin_row)]
    for c in columns:
        v = row.get(c)
        parts.append(c + "=" + ("\u0000" if v is None else v))
    return hashlib.sha256("\u001f".join(parts).encode("utf-8")).hexdigest()


def table_fingerprint(digests):
    return hashlib.sha256("\n".join(sorted(digests)).encode("utf-8")).hexdigest()


def expected_tables(sheets, config):
    """{target: {"rows": n, "fp": hex}} for a warehouse loaded from
    `sheets` (the current version of every sheet)."""
    by_target = {}
    for s in sheets:
        job = config[s["spreadsheetId"]][s["sheetName"]]
        by_target.setdefault(job["targetTable"], []).append(
            (s, job, expected_rows(s["values"], job)))
    out = {}
    for target, loads in by_target.items():
        columns = sorted({c for _, job, _ in loads
                          for c in normalize_names(list(job["columnMapping"]))})
        digests = [row_digest(s["spreadsheetId"], s["sheetName"], i, columns, r)
                   for s, _, rows in loads for i, r in enumerate(rows)]
        out[target] = {"rows": len(digests), "fp": table_fingerprint(digests)}
    return out
