#!/usr/bin/env python3
"""Seeded synthetic FERC XBRL filing season: taxonomy archive, filing
archive and a manifest of the tables graft.Main must write from them.

Output directory (a drop-in GRAFT_XBRL_DATA_DIR):
  ferc1-xbrl-taxonomies.zip  two zipped taxonomy versions; the later one
                             adds one table and one column
  ferc1-xbrl-2021.zip        `.xbrl` instances plus an `rssfeed`
  manifest.json              expected rows and numeric column sums per
                             table, plus the planted counts

Planted cases, per filing: exact duplicate facts, close-value duplicates
(the higher-precision value must win), a context with an out-of-table
axis (its facts land in no table), axis tables reporting into the
dimensionless "total" context, instant and duration periods. One filing
of the season is empty and must be skipped.

The output is byte-identical for a given (seed, size): every zip entry
carries a fixed timestamp and entries are written in a fixed order.

Usage: python3 perfbench/xbrl_gen.py <out_dir> --seed N [--size tiny|small|large]
"""
import argparse
import functools
import hashlib
import io
import json
import os
import random
import re
import zipfile

TAXONOMY_ZIP = "ferc1-xbrl-taxonomies.zip"
FILINGS_ZIP = "ferc1-xbrl-2021.zip"
VERSIONS = ("form-1-2021-01-01", "form-1-2022-01-01")
ZIP_TIME = (2022, 1, 1, 0, 0, 0)

# roles: schedules in the first taxonomy version (each yields a duration
# and an instant table); the later version adds one duration-only
# schedule and one column to schedule 001. filings: non-empty instances.
# members: explicit members per axis. ctx_rep: contexts per axis member.
# dur/inst: duration/instant columns per schedule. report: share of a
# schedule's columns a filing reports per context.
SIZES = {
    "tiny": dict(roles=3, filings=2, members=2, ctx_rep=1, dur=3, inst=2, report=1.0),
    "small": dict(roles=15, filings=10, members=2, ctx_rep=1, dur=48, inst=20, report=0.8),
    "large": dict(roles=15, filings=80, members=4, ctx_rep=1, dur=48, inst=20, report=0.8),
}

# (XBRL item type, frictionless type) cycle for data columns; mostly money
TYPES = [("monetaryItemType", "number")] * 4 + [
    ("integerItemType", "integer"), ("stringItemType", "string"),
    ("monetaryItemType", "number"), ("booleanItemType", "boolean"),
    ("dateItemType", "date"), ("gYearItemType", "year"),
]
NUMERIC = ("number", "integer", "year")

XSD_NAME = "ferc-core.xsd"
NS = {
    "xs": "http://www.w3.org/2001/XMLSchema",
    "xbrli": "http://www.xbrl.org/2003/instance",
    "link": "http://www.xbrl.org/2003/linkbase",
    "xlink": "http://www.w3.org/1999/xlink",
    "xbrldi": "http://xbrl.org/2006/xbrldi",
}
PARENT_CHILD = "http://www.xbrl.org/2003/arcrole/parent-child"
SUMMATION = "http://www.xbrl.org/2003/arcrole/summation-item"
LABEL_ROLE = "http://www.xbrl.org/2003/role/label"
CONCEPT_LABEL = "http://www.xbrl.org/2003/arcrole/concept-label"
FERC_NS = "http://ferc.gov/form/2022-01-01/ferc"

TITLES = ["Identification", "Electric Plant", "Operating Revenues", "Fuel Costs",
          "Transmission Lines", "Depreciation", "Taxes Accrued", "Payroll",
          "Purchased Power", "Hydro Plant", "Steam Plant", "Substations"]


@functools.lru_cache(maxsize=None)
def snakecase(raw):
    """graft.xbrl.Names.snakecase for the ASCII names used here."""
    out = [raw[0].lower()]
    for c in raw[1:]:
        out.append("_" + c.lower() if c.isupper() else c)
    return "".join(out)


# ---- taxonomy -------------------------------------------------------------

def letters(i):
    """Column suffix: A..Z, then AA, AB, ..."""
    return chr(65 + i) if i < 26 else letters(i // 26 - 1) + chr(65 + i % 26)


class Schedule:
    def __init__(self, n, n_dur, n_inst, with_axis):
        self.n = n
        self.title = TITLES[(n - 1) % len(TITLES)] + ("" if n <= len(TITLES) else f" Part {n}")
        self.root = f"Sched{n:03d}Abstract"
        self.axis = f"Sched{n:03d}KindAxis" if with_axis else None
        # (concept, period, xbrl type, frictionless type)
        self.columns = []
        for i in range(n_dur):
            t = TYPES[(n + i) % len(TYPES)]
            self.columns.append((f"Sched{n:03d}Flow{letters(i)}", "duration") + t)
        for i in range(n_inst):
            self.columns.append((f"Sched{n:03d}Balance{letters(i)}", "instant",
                                 "monetaryItemType", "number"))

    @property
    def role_uri(self):
        return f"http://ferc.gov/form/roles/Schedule{self.n:03d}"

    @property
    def definition(self):
        return f"{self.n:03d} - Schedule - {self.title}"

    def table(self, period):
        # FactTableSchema.cleanTableName: "title_NNN", snakecased, cleaned
        cleaned = snakecase(f"{self.title}_{self.n:03d}".replace(" ", "_"))
        cleaned = re.sub("_(_+)", "_", re.sub(r"\W", "", cleaned))
        return f"{cleaned}_{period}"


def schedules_for(size, version_index):
    """Schedules of one taxonomy version (0 = first, 1 = second)."""
    p = SIZES[size]
    out = [Schedule(n, p["dur"], p["inst"], with_axis=(n % 3 == 0))
           for n in range(1, p["roles"] + 1)]
    if version_index == 1:
        out[0].columns.append(("Sched001FlowAdded", "duration", "monetaryItemType", "number"))
        out.append(Schedule(p["roles"] + 1, p["dur"], 0, with_axis=False))
    return out


def taxonomy_files(version, scheds):
    """The four files of one taxonomy version: XSD plus linkbases."""
    els, roles = [], []
    for s in scheds:
        roles.append(
            f'<link:roleType roleURI="{s.role_uri}" id="Sched{s.n:03d}">'
            f"<link:definition>{s.definition}</link:definition>"
            "<link:usedOn>link:presentationLink</link:usedOn></link:roleType>")
        concepts = [(s.root, "duration", "stringItemType", True)]
        if s.axis:
            concepts.append((s.axis, "duration", "stringItemType", True))
        concepts += [(c, per, t, False) for c, per, t, _ in s.columns]
        for name, per, t, abstract in concepts:
            els.append(
                f'<xs:element id="ferc_{name}" name="{name}" type="xbrli:{t}" '
                f'substitutionGroup="xbrli:item" xbrli:periodType="{per}" '
                f'nillable="true"' + (' abstract="true"' if abstract else "") + "/>")
    xsd = (f'<?xml version="1.0" encoding="utf-8"?>\n'
           f'<xs:schema xmlns:xs="{NS["xs"]}" xmlns:xbrli="{NS["xbrli"]}" '
           f'xmlns:link="{NS["link"]}" targetNamespace="{FERC_NS}">'
           "<xs:annotation><xs:appinfo>" + "".join(roles) + "</xs:appinfo></xs:annotation>"
           + "".join(els) + "</xs:schema>\n")

    head = (f'<?xml version="1.0" encoding="utf-8"?>\n'
            f'<link:linkbase xmlns:link="{NS["link"]}" xmlns:xlink="{NS["xlink"]}">')

    def loc(name):
        return (f'<link:loc xlink:type="locator" xlink:href="{XSD_NAME}#ferc_{name}" '
                f'xlink:label="loc_{name}"/>')

    pre = [head]
    for s in scheds:
        pre.append(f'<link:presentationLink xlink:type="extended" xlink:role="{s.role_uri}">')
        kids = ([s.axis] if s.axis else []) + [c for c, *_ in s.columns]
        pre.append(loc(s.root))
        for i, k in enumerate(kids):
            pre.append(loc(k))
            pre.append(f'<link:presentationArc xlink:type="arc" xlink:arcrole="{PARENT_CHILD}" '
                       f'xlink:from="loc_{s.root}" xlink:to="loc_{k}" order="{i + 1}"/>')
        pre.append("</link:presentationLink>")
    pre.append("</link:linkbase>\n")

    lab = [head, '<link:labelLink xlink:type="extended" xlink:role="http://www.xbrl.org/2003/role/link">']
    for s in scheds:
        for name in [s.root] + [c for c, *_ in s.columns]:
            lab.append(loc(name))
            lab.append(f'<link:label xlink:type="resource" xlink:label="lab_{name}" '
                       f'xlink:role="{LABEL_ROLE}" xml:lang="en">{name} label</link:label>')
            lab.append(f'<link:labelArc xlink:type="arc" xlink:arcrole="{CONCEPT_LABEL}" '
                       f'xlink:from="loc_{name}" xlink:to="lab_{name}"/>')
    lab.append("</link:labelLink></link:linkbase>\n")

    # one calculation arc: schedule 002's first flow sums its second
    s2 = scheds[1] if len(scheds) > 1 else scheds[0]
    parent, child = s2.columns[0][0], s2.columns[1][0]
    cal = (head + f'<link:calculationLink xlink:type="extended" xlink:role="{s2.role_uri}">'
           + loc(parent) + loc(child)
           + f'<link:calculationArc xlink:type="arc" xlink:arcrole="{SUMMATION}" '
             f'xlink:from="loc_{parent}" xlink:to="loc_{child}" order="1" weight="1.0"/>'
           + "</link:calculationLink></link:linkbase>\n")
    base = f"{version}/schedules/ferc-core"
    return [(f"{version}/{XSD_NAME}", xsd), (f"{base}_pre.xml", "".join(pre)),
            (f"{base}_lab.xml", "".join(lab)), (f"{base}_cal.xml", cal)]


def zip_bytes(entries):
    """Deterministic zip of (name, str|bytes) entries."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in entries:
            info = zipfile.ZipInfo(name, ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data.encode("utf-8") if isinstance(data, str) else data)
    return buf.getvalue()


# ---- filings ----------------------------------------------------------------

def spark_prec(v):
    """FactTableBuilder's decimal precision: smallest p in 0..5 with
    round(v, p) == v. Values here carry at most two decimals, so it is the
    number of digits after the point in the shortest repr."""
    frac = repr(v).partition(".")[2]
    return 0 if frac in ("", "0") else len(frac)


def value_for(ftype, rng):
    if ftype == "number":
        return f"{rng.randint(100, 9_999_999) / 100:.2f}"
    if ftype == "integer":
        return str(rng.randint(1, 50_000))
    if ftype == "year":
        return str(rng.randint(1990, 2021))
    if ftype == "boolean":
        return rng.choice(["true", "false"])
    if ftype == "date":
        return f"2021-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    return f"text {rng.randint(0, 10**6)}"


def typed(ftype, raw):
    """The value graft writes for a raw fact string (try_cast semantics)."""
    if ftype == "number":
        return float(raw)
    if ftype in ("integer", "year"):
        return int(raw)
    if ftype == "boolean":
        return raw == "true"
    return raw


def context_xml(cid, entity, period, dims):
    seg = ""
    if dims:
        seg = "<xbrli:segment>" + "".join(
            f'<xbrldi:explicitMember dimension="ferc:{a}">ferc:{m}</xbrldi:explicitMember>'
            for a, m in dims) + "</xbrli:segment>"
    if period[0] == "instant":
        per = f"<xbrli:instant>{period[1]}</xbrli:instant>"
    else:
        per = f"<xbrli:startDate>{period[1]}</xbrli:startDate><xbrli:endDate>{period[2]}</xbrli:endDate>"
    return (f'<xbrli:context id="{cid}"><xbrli:entity><xbrli:identifier '
            f'scheme="http://www.ferc.gov/CID">{entity}</xbrli:identifier>{seg}'
            f"</xbrli:entity><xbrli:period>{per}</xbrli:period></xbrli:context>")


DURATION = ("duration", "2021-01-01", "2021-12-31")
INSTANTS = [("instant", "2021-12-31"), ("instant", "2020-12-31")]


def make_filing(scheds, entity, rng, p):
    """One instance document. Returns (xml, contexts, facts) where
    contexts maps id -> (instant, frozenset(axes)) and facts is a list of
    (context id, concept, raw value) in document order."""
    contexts = {}   # id -> (period, dims)
    facts = []

    def ctx(cid, period, dims=()):
        contexts.setdefault(cid, (period, tuple(dims)))
        return cid

    shared_d = ctx("c_dur", DURATION)
    shared_i = [ctx(f"c_inst{k}", per) for k, per in enumerate(INSTANTS)]
    for s in scheds:
        dur_cols = [c for c in s.columns if c[1] == "duration"]
        inst_cols = [c for c in s.columns if c[1] == "instant"]
        plan = []   # (context ids, columns)
        if s.axis:
            members = [f"Kind{m}Member" for m in range(p["members"])]
            ids = [ctx(f"c{s.n}_{m}_{r}", DURATION, [(s.axis, m)])
                   for m in members for r in range(p["ctx_rep"])]
            # facts missing the axis are totals: the shared context
            plan.append((ids + [shared_d], dur_cols))
            # a foreign axis puts the context outside every table
            plan.append(([ctx(f"c{s.n}_foreign", DURATION,
                              [(s.axis, members[0]), ("ForeignAxis", "OtherMember")])], dur_cols))
        elif dur_cols:
            plan.append(([shared_d], dur_cols))
        if inst_cols:
            plan.append((shared_i, inst_cols))
        for ids, cols in plan:
            for cid in ids:
                k = max(1, round(len(cols) * p["report"]))
                for name, _, _, ftype in sorted(rng.sample(cols, k)):
                    facts.append((cid, name, value_for(ftype, rng)))
    # planted duplicates on numeric facts: exact copies, and close values
    # whose higher-precision member must win
    numeric = [i for i, f in enumerate(facts) if f[2].count(".") == 1 and f[2][-1] != "0"]
    for i in rng.sample(numeric, min(len(numeric), max(2, len(facts) // 200))):
        cid, name, v = facts[i]
        facts.append((cid, name, v))
        facts.append((cid, name, f"{round(float(v), 1):.1f}"))
    rng.shuffle(facts)

    parts = [f'<?xml version="1.0" encoding="utf-8"?>\n<xbrli:xbrl xmlns:xbrli="{NS["xbrli"]}" '
             f'xmlns:xbrldi="{NS["xbrldi"]}" xmlns:ferc="{FERC_NS}">\n']
    for cid in sorted(contexts):
        period, dims = contexts[cid]
        parts.append(context_xml(cid, entity, period, dims) + "\n")
    for cid, name, v in facts:
        unit = ' unitRef="USD" decimals="2"' if "." in v else ""
        parts.append(f'<ferc:{name} contextRef="{cid}"{unit}>{v}</ferc:{name}>\n')
    parts.append("</xbrli:xbrl>\n")
    return "".join(parts), contexts, facts


def expected_tables(scheds_merged, filings):
    """Simulate graft's grouped-store extract: per (filing, context) the
    deduplicated facts; per table the admissible contexts with data."""
    coltype, table_of, tables = {}, {}, {}
    for s in scheds_merged:
        for period in ("duration", "instant"):
            cols = [(snakecase(c), ft) for c, per, _, ft in s.columns if per == period]
            if cols:
                name = s.table(period)
                tables[name] = (period == "instant", {snakecase(s.axis)} if s.axis else set())
                for (c, ft) in cols:
                    coltype[c], table_of[c] = ft, name
    out = {t: {"rows": 0, "sums": {c: 0 for c, ft in coltype.items()
                                   if table_of[c] == t and ft in NUMERIC}} for t in tables}
    for contexts, facts in filings:
        best = {}   # (cid, column) -> (precision, typed value)
        for cid, name, raw in facts:
            col = snakecase(name)
            ft = coltype[col]
            v = typed(ft, raw)
            rank = spark_prec(v) if ft == "number" else 0
            key = (cid, col)
            if key not in best or rank > best[key][0]:
                best[key] = (rank, v)
        by_ctx = {}
        for (cid, col), (_, v) in best.items():
            by_ctx.setdefault(cid, {})[col] = v
        for cid, vals in by_ctx.items():
            period, dims = contexts[cid]
            instant, axes = period[0] == "instant", {snakecase(a) for a, _ in dims}
            for t in {table_of[c] for c in vals}:
                t_instant, t_axes = tables[t]
                # period must match; dimensions outside the table's axes
                # put the context in no table; missing axes are totals
                if t_instant != instant or not axes <= t_axes:
                    continue
                out[t]["rows"] += 1
                sums = out[t]["sums"]
                for c, v in vals.items():
                    if c in sums:
                        sums[c] += v
    return out


def generate(out_dir, seed, size):
    p = SIZES[size]
    rng = random.Random(f"graft-xbrl-season/{seed}/{size}")
    os.makedirs(out_dir, exist_ok=True)
    versions = [schedules_for(size, i) for i in range(2)]
    inner = [(f"{v}.zip", zip_bytes(taxonomy_files(v, s))) for v, s in zip(VERSIONS, versions)]
    tax = zip_bytes(inner)

    entries, rss, sim = [], {}, []
    n_facts = n_contexts = 0
    empty_at = rng.randrange(p["filings"] + 1)
    for k in range(p["filings"] + 1):
        entity = f"C{seed % 1000:03d}{k:05d}"
        fname = f"{entity}_ferc1_2021Q4.xbrl"
        if k == empty_at:
            xml = ""   # an empty submission: unparseable, must be skipped
        else:
            xml, contexts, facts = make_filing(versions[1], entity, rng, p)
            sim.append((contexts, facts))
            n_facts += len(facts)
            n_contexts += len(contexts)
        entries.append((fname, xml))
        rss[f"filing-{k:05d}"] = [{
            "filename": fname,
            "rss_metadata": {"published_parsed": f"2022-04-{1 + k % 28:02d} {k % 24:02d}:{k % 60:02d}:00"},
            "taxonomy_zip_name": f"{VERSIONS[1]}.zip",
        }]
    filings = zip_bytes(entries + [("rssfeed", json.dumps(rss, sort_keys=True))])

    with open(os.path.join(out_dir, TAXONOMY_ZIP), "wb") as f:
        f.write(tax)
    with open(os.path.join(out_dir, FILINGS_ZIP), "wb") as f:
        f.write(filings)
    manifest = {
        "seed": seed, "size": size,
        "filings": p["filings"], "skipped_filings": 1,
        "facts": n_facts, "contexts": n_contexts,
        "filings_zip_bytes": len(filings),
        "tables": expected_tables(versions[1], sim),
        "sha256": {TAXONOMY_ZIP: hashlib.sha256(tax).hexdigest(),
                   FILINGS_ZIP: hashlib.sha256(filings).hexdigest()},
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="small")
    a = ap.parse_args()
    m = generate(a.out_dir, a.seed, a.size)
    print(f"{len(m['tables'])} tables, {m['filings']} filings (+1 empty), "
          f"{m['facts']} facts, {m['contexts']} contexts -> {a.out_dir}")


if __name__ == "__main__":
    main()
