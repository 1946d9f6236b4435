"""Seeded GEM tracker inputs and the answers the outputs must match.

The eight trackers are written as `.xlsx` workbooks in each reference
workbook's own column spellings, with the reference's dirty value mixes: ``>0`` and
``unknown``/``not found`` in numeric columns, one to three owners with
and without ``[NN%]`` shares, pre-2024 retirees, hydro's binational
plants and gas/oil's fuel strings.  Nothing here calls the program:
``.xlsx`` is written as a zip of inline-string SpreadsheetML parts, the
steel and emission-factor dimensions as parquet through pyarrow.

The expected answers come from a plain-Python reading of the reference
scripts' rules (status whitelist, start-year policy, ownership split,
year expansion, rollup), so the checks never trust the program.
"""

import json
import math
import os
import random
import re
import zipfile
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

YEARS = list(range(2023, 2051))
COMMON = {"construction", "operating", "announced", "pre-construction"}
PRE_OPERATION = {"announced", "construction", "pre-construction"}
STATUSES = [("operating", 45), ("construction", 10), ("announced", 10),
            ("pre-construction", 10), ("retired", 10), ("cancelled", 8), ("shelved", 7)]
# Names present once in the program's country dimension, plus Kosovo
# (patched to XK) and one name the dimension lacks.
COUNTRIES = ["Germany", "France", "India", "China", "Brazil", "Chile",
             "Kenya", "Japan", "Poland", "Mexico", "Kosovo", "Atlantis"]
FOSSIL = ("CoalCap", "OilCap", "GasCap")


def tracker(name, tech, unit, country, start, retire, plant="Project Name",
            owner="Owner", cap="Capacity (MW)", region="Region",
            age=None, policy="impute", strict=False, drop_pre2024=False,
            owner_required=True, fuel=False, binational=False):
    return dict(name=name, tech=tech, unit=unit, country=country, start=start,
                retire=retire, plant=plant, owner=owner, cap=cap,
                region=region, age=age, policy=policy, strict=strict,
                drop_pre2024=drop_pre2024, owner_required=owner_required,
                fuel=fuel, binational=binational)


# The eight reference trackers, in the union order of the totals job.
TRACKERS = [
    tracker("coal", "CoalCap", "GEM unit/phase ID", "Country/Area",
            "Start year", "Planned retirement", plant="Plant name",
            age="Plant age (years)", policy="drop", strict=True,
            drop_pre2024=True, owner_required=False),
    tracker("gas_oil", None, "GEM unit ID", "Country/Area", "Start year",
            "Planned retire", plant="Plant name", owner="Owner(s)",
            policy="drop_pre_operation", strict=True, drop_pre2024=True,
            owner_required=False, fuel=True),
    tracker("hydro", "HydroCap", "GEM unit ID", "Country 1", "Start Year",
            "Retired Year", cap="Country 1 Capacity (MW)",
            region="Region 1", owner_required=False, binational=True),
    tracker("solar", "RenewablesCap", "GEM phase ID", "Country",
            "Start year", "Retired year"),
    tracker("wind", "RenewablesCap", "GEM phase ID", "Country/Area",
            "Start year", "Retired year"),
    tracker("nuclear", "NuclearCap", "GEM unit ID", "Country/Area",
            "Start Year", "Retirement Year"),
    tracker("geothermal", "RenewablesCap", "GEM unit ID", "Country/Area",
            "Start year", "Retired year"),
    tracker("bioenergy", "RenewablesCap", "GEM phase ID", "Country/Area",
            "Start Year", "Retired Year", owner="Owner(s)"),
]

# Which trackers the snapshot drops update, in landing order: the same
# for every seed, so seeds vary the data, not the amount of work.
DROP_ORDER = [TRACKERS[2], TRACKERS[1], TRACKERS[0], TRACKERS[3],
              TRACKERS[5], TRACKERS[7], TRACKERS[4], TRACKERS[6]]

FUELS = [("fossil gas: natural gas", 45), ("Fossil liquids: diesel", 25),
         ("fossil gas: natural gas, fossil liquids: fuel oil", 10),
         ("fossil liquids: crude oil, Fossil Gas: LNG", 8),
         ("coal: bituminous", 7), ("bioenergy: wood & other biomass", 5)]


def deck(rng, weighted, n):
    """`n` draws in exact proportion to the weights, shuffled."""
    total = sum(w for _, w in weighted)
    counts = [n * w // total for _, w in weighted]
    by_remainder = sorted(range(len(weighted)), key=lambda i: -(n * weighted[i][1] % total))
    for i in by_remainder[:n - sum(counts)]:
        counts[i] += 1
    out = [v for (v, _), c in zip(weighted, counts) for _ in range(c)]
    rng.shuffle(out)
    return out


def columns(t):
    cols = [t["unit"], "GEM location ID", t["plant"], t["country"],
            t["region"], t["owner"], t["cap"], "Status", t["start"],
            t["retire"], "Latitude", "Longitude"]
    if t["age"]:
        cols.append(t["age"])
    if t["fuel"]:
        cols.append("Fuel")
    if t["binational"]:
        cols += ["Binational", "Country 2", "Region 2",
                 "Country 2 Capacity (MW)"]
    return cols


CAPACITY = [("number", 80), (None, 3), (">0", 5), ("unknown", 4), ("not found", 3),
            ("N/A", 3), ("0", 2)]
START = [("number", 81), ("unknown", 8), ("not found", 6), (">0", 3), (None, 2)]
RETIRE = [(None, 60), ("number", 25), ("unknown", 5), ("not found", 5), (">0", 5)]
# (owner count, share style), as in the reference trackers' Owner columns
OWNERS = [((1, "shares"), 28), ((1, "plain"), 27), ((2, "shares"), 14), ((2, "plain"), 9),
          ((2, "mixed"), 7), ((3, "shares"), 7), ((3, "plain"), 4), ((3, "mixed"), 4)]


def value(rng, kind, lo, hi, fmt):
    return fmt % rng.uniform(lo, hi) if kind == "number" else kind


def owners_text(rng, companies, shape):
    n, style = shape
    names = rng.sample(companies, n)
    if n == 1:
        return names[0] + (" [100%]" if style == "shares" else "")
    if style == "shares":  # every share given, summing to 100
        cuts = sorted(rng.sample(range(1, 100), n - 1))
        shares = [b - a for a, b in zip([0] + cuts, cuts + [100])]
        return "; ".join("%s [%d%%]" % (c, s) for c, s in zip(names, shares))
    if style == "plain":
        return "; ".join(names)
    return "; ".join(names[:1] + ["%s [%d%%]" % (c, rng.randint(5, 60))
                                  for c in names[1:]])


def make_units(t, n_units, rng, companies, kinds):
    """One tracker snapshot: a list of row dicts keyed by column name.

    Which kind of value each unit gets (status, `>0`, `unknown`, owner
    count ...) comes from `kinds`, a generator that does not depend on
    the seed; the values themselves come from the seeded `rng`. Every
    seed then asks for the same amount of work.
    """
    rows = []
    n_locs = max(1, n_units // 3)
    decks = {name: deck(kinds, w, n_units) for name, w in [
        ("status", STATUSES), ("cap", CAPACITY), ("cap2", CAPACITY),
        ("start", START), ("retire", RETIRE), ("owners", OWNERS), ("fuel", FUELS),
        ("no_owner", [(False, 97), (True, 3)]), ("shifted", [(False, 7), (True, 3)]),
        ("binational", [("No", 9), (None, 1)])]}
    for i in range(n_units):
        d = {name: values[i] for name, values in decks.items()}
        loc = i * n_locs // n_units
        lrng = random.Random("%s-%d-%d" % (t["name"], loc, rng.randint(0, 3)))
        lat, lon = round(lrng.uniform(-60, 70), 3), round(lrng.uniform(-170, 170), 3)
        if d["shifted"]:  # a second coordinate at the same location
            lat, lon = lat + 0.25, lon - 0.25
        r = {t["unit"]: "%s-U%06d" % (t["name"][:3].upper(), i),
             "GEM location ID": "%s-L%06d" % (t["name"][:3].upper(), loc),
             t["plant"]: "%s plant %d" % (t["name"], loc),
             t["country"]: COUNTRIES[loc % len(COUNTRIES)],
             t["region"]: "Region %d" % (loc % 7),
             t["owner"]: owners_text(rng, companies, d["owners"]),
             t["cap"]: value(rng, d["cap"], 1, 1500, "%.1f"),
             "Status": d["status"],
             t["start"]: value(rng, d["start"], 1960, 2036, "%d"),
             t["retire"]: value(rng, d["retire"], 2010, 2061, "%d"),
             "Latitude": lat, "Longitude": lon}
        if t["owner_required"] and d["no_owner"]:
            r[t["owner"]] = None  # the v2 trackers drop null owners
        if t["age"]:
            r[t["age"]] = str(rng.randint(0, 60))
        if t["fuel"]:
            r["Fuel"] = d["fuel"]
        if t["binational"]:
            bi = loc % 10 == 3
            r["Binational"] = "Yes" if bi else d["binational"]
            r["Country 2"] = COUNTRIES[(loc + 5) % len(COUNTRIES)] if bi else None
            r["Region 2"] = "Region %d" % (loc % 5 + 10) if bi else None
            r["Country 2 Capacity (MW)"] = value(rng, d["cap2"], 1, 1500, "%.1f") if bi else None
        rows.append(r)
    return rows


def drop_snapshot(t, rows, rng, companies, next_id, kinds):
    """The next snapshot of a tracker: edits, removals, new units."""
    out = []
    for r, edit in zip(rows, deck(kinds, [(None, 83), ("remove", 2), ("cap", 8),
                                          ("status", 4), ("owner", 3)], len(rows))):
        r = dict(r)
        if edit == "remove":
            continue  # unit removed from the tracker
        if edit == "cap":
            r[t["cap"]] = value(rng, kinds.choice(CAPACITY)[0], 1, 1500, "%.1f")
        elif edit == "status":
            r["Status"] = kinds.choice(STATUSES)[0]
        elif edit == "owner":
            r[t["owner"]] = owners_text(rng, companies, kinds.choice(OWNERS)[0])
        out.append(r)
    extra = make_units(t, max(1, len(rows) // 25), rng, companies, kinds)
    for k, r in enumerate(extra):
        r[t["unit"]] = "%s-N%06d" % (t["name"][:3].upper(), next_id + k)
    return out + extra


# ---------------------------------------------------------------------------
# Expected answers: the reference rules, row by row.


def num(s):
    """R's as.numeric / Spark's try_cast: junk text is missing."""
    if s is None:
        return None
    try:
        v = float(s)
    except ValueError:
        return None
    return None if math.isnan(v) or math.isinf(v) else v


def fuel_class(fuel):
    f = (fuel or "").lower()
    g, o = f.find("fossil gas"), f.find("fossil liquids")
    if g < 0 and o < 0:
        return None
    if o < 0 or (g >= 0 and g < o):
        return "GasCap"
    return "OilCap"


def expand_binational(rows, t):
    out = []
    for r in rows:
        if r.get("Binational") != "Yes":
            out.append(r)
            continue
        side1 = dict(r, **{"Country 2": None, "Region 2": None,
                           "Country 2 Capacity (MW)": None})
        side2 = dict(side1)
        side2[t["unit"]] = r[t["unit"]] + "_2"
        side2["GEM location ID"] = r["GEM location ID"] + "_2"
        side2[t["country"]] = r["Country 2"]
        side2[t["cap"]] = r["Country 2 Capacity (MW)"]
        side2[t["region"]] = r["Region 2"]
        out += [side1, side2]
    return out


def expected(t, rows):
    """Row count and Σ capacity per production year of one tracker CSV."""
    units = len(rows)
    if t["binational"]:
        rows = expand_binational(rows, t)
    groups = set()
    cap = [0.0] * len(YEARS)
    for r0 in rows:
        r = {k: ("unknown" if v == ">0" else v) for k, v in r0.items()}
        tech = t["tech"]
        if t["fuel"]:
            tech = fuel_class(r["Fuel"])
            if tech is None:
                continue
        if t["owner_required"] and r[t["owner"]] is None:
            continue
        status = r["Status"]
        if status not in COMMON:
            continue
        c = r[t["cap"]]
        if c is None or c in ("unknown", "N/A", "not found", "0"):
            continue
        start = r[t["start"]]
        unknown = start is None or start in ("unknown", "not found")
        if unknown and t["policy"] == "drop":
            continue
        if unknown and t["policy"] == "drop_pre_operation" and status in PRE_OPERATION:
            continue
        if unknown and t["policy"] == "impute":
            start = "2030" if status in PRE_OPERATION else "2024"
        capv, startv, retirev = num(c), num(start), num(r[t["retire"]])
        if t["drop_pre2024"] and retirev is not None and retirev < 2024:
            continue
        owner = r[t["owner"]]
        parts = [None] if owner is None else re.split(r";\s*", owner)
        for raw in parts:
            company, share = None, None
            if raw is not None:
                m = re.match(r"^([^\[]+)", raw)
                company = m.group(1).strip(" ") if m else None
                company = company or None
                s = re.search(r"(\d+)%", raw)
                share = float(s.group(1)) / 100.0 if s else None
            if share is None and not t["strict"]:
                share = 1.0 / len(parts)
            alloc = None if share is None or capv is None else capv * share
            groups.add((r["GEM location ID"], tech, r.get(t["age"]) if t["age"] else None,
                        company))
            if alloc is None:
                continue
            for i, y in enumerate(YEARS):
                if startv is not None and y < startv:
                    continue
                if retirev is not None and y >= retirev:
                    continue
                cap[i] += alloc
    return {"rows": len(groups) * len(YEARS), "cap_by_year": cap,
            "units": units}


# ---------------------------------------------------------------------------
# Writers (no program code).


def col_ref(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, t, rows, sheet="Data"):
    """A one-sheet workbook with every cell an inline string."""
    cols = columns(t)
    refs = [col_ref(i) for i in range(len(cols))]

    def row_xml(n, values):
        cells = "".join(
            '<c r="%s%d" t="inlineStr"><is><t>%s</t></is></c>' % (refs[i], n, escape(str(v)))
            for i, v in enumerate(values) if v is not None)
        return '<row r="%d">%s</row>' % (n, cells)

    body = [row_xml(1, cols)]
    body += [row_xml(n + 2, [r.get(c) for c in cols]) for n, r in enumerate(rows)]
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    doc = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="%s.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="%s.worksheet+xml"/>'
            '</Types>' % (ct, ct),
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="%s">'
            '<Relationship Id="rId1" Type="%s/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>' % (pkg, doc),
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8"?><workbook %s %s><sheets>'
            '<sheet name="%s" sheetId="1" r:id="rId1"/></sheets></workbook>' % (ns, rel_ns, sheet),
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="%s">'
            '<Relationship Id="rId1" Type="%s/worksheet" Target="worksheets/sheet1.xml"/>'
            '</Relationships>' % (pkg, doc),
        "xl/worksheets/sheet1.xml":
            '<?xml version="1.0" encoding="UTF-8"?><worksheet %s><sheetData>%s</sheetData></worksheet>'
            % (ns, "".join(body)),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts.items():
            z.writestr(name, text)


STEEL_SCHEMA = pa.schema([
    ("asset_id", pa.string()), ("asset_name", pa.string()),
    ("company_id", pa.string()), ("company_name", pa.string()),
    ("country_iso2", pa.string()), ("country_name", pa.string()),
    ("region", pa.string()), ("coordinates", pa.string()),
    ("workforce_size", pa.float64()), ("workforce_source", pa.string()),
    ("sector", pa.string()), ("technology", pa.string()),
    ("capacity", pa.float64()), ("capacity_unit", pa.string()),
    ("production_year", pa.int32()), ("plant_age_years", pa.float64()),
    ("plant_age_rank", pa.float64()), ("capacity_factor", pa.float64()),
    ("emission_factor", pa.float64())])


def write_dims(out, rng, companies):
    """Steel assets (their company ids win in the totals) and emission factors."""
    steel_cos = rng.sample(companies, 12) + ["Steel-only Company %d" % i for i in range(3)]
    rows, cap = [], [0.0] * len(YEARS)
    for i in range(40):
        k = i % len(steel_cos)
        y = YEARS[i % len(YEARS)]
        c = round(rng.uniform(10, 500), 1)
        cap[YEARS.index(y)] += c
        rows.append({"asset_id": "S%04d" % i, "asset_name": "Steel works %d" % i,
                     "company_id": "STL%08d" % k, "company_name": steel_cos[k],
                     "country_iso2": "CN", "country_name": "China",
                     "region": "Asia", "coordinates": "30.0, 110.0",
                     "sector": "Power", "technology": "SteelCap",
                     "capacity": c, "capacity_unit": "MW", "production_year": y})
    pq.write_table(pa.Table.from_pylist(rows, schema=STEEL_SCHEMA),
                   os.path.join(out, "steel.parquet"))
    factors = [{"technology": tech, "country_iso2": iso,
                "emissions_factor": round(rng.uniform(300, 1000), 2)}
               for tech in FOSSIL for iso in ("DE", "FR", "IN", "CN", "XK")
               if rng.random() < 0.8]
    pq.write_table(pa.Table.from_pylist(factors), os.path.join(out, "factors.parquet"))
    return {"rows": len(rows), "cap_by_year": cap}


def generate(out, seed, units, drops):
    """Write the workbooks into `out` and return the answers.

    One `.xlsx` per tracker, then `drops` later snapshots, each of one
    tracker (hydro first, then gas/oil, ...).
    """
    rng = random.Random(seed)
    companies = ["%s %s %d" % (rng.choice(["Alpha", "Nordic", "Sun", "Delta", "Gamma",
                                           "Pacific", "Atlas", "Kappa"]),
                               rng.choice(["Power", "Energy", "Holdings", "Utilities",
                                           "GmbH", "SpA", "Corp"]), i)
                 for i in range(max(50, units // 2))]
    answers = {"steel": write_dims(out, rng, companies), "trackers": {}, "drops": []}
    snaps = {}
    for t in TRACKERS:
        rows = make_units(t, units, rng, companies, random.Random("kinds-" + t["name"]))
        snaps[t["name"]] = rows
        write_xlsx(os.path.join(out, "%s-s0.xlsx" % t["name"]), t, rows)
        answers["trackers"][t["name"]] = [expected(t, rows)]
    for t in DROP_ORDER[:drops]:
        rows = drop_snapshot(t, snaps[t["name"]], rng, companies,
                             100000 * (len(answers["drops"]) + 1),
                             random.Random("kinds-drop-" + t["name"]))
        snaps[t["name"]] = rows
        k = len(answers["trackers"][t["name"]])
        write_xlsx(os.path.join(out, "%s-s%d.xlsx" % (t["name"], k)), t, rows)
        answers["trackers"][t["name"]].append(expected(t, rows))
        answers["drops"].append({"tracker": t["name"], "snapshot": k})
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(answers, f)
    return answers
