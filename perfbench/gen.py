"""Deterministic input generator for the ingest benchmark.

Every input is a pure function of (workload, seed, size). Files follow the
reference formats (FIXTURES.md A1-A5) and carry their edge cases on purpose:
rows missing a required field, picsure rows the clean rule drops,
Python-literal value lists with both quote styles and escapes, MDS field
aliases, 404 dictionary stubs, repeated field names, and GapExchange files
that the lake glob also matches.

Next to the files the generator writes `expected.json`: the counts a
correct run must reproduce. `check.py` compares outputs against it.

Each file is written to `<name>.tmp` and renamed into place, and a whole
input set is built in `<dir>.tmp` and renamed last, so a killed run never
leaves a half-written set that looks complete.
"""
import hashlib
import json
import os
import random
import re
import shutil

# Input sizes per workload. Changing one changes what the benchmark
# measures, so BENCHMARK.json states them in its workload descriptions.
SIZES = {
    "bdc_ingest": {"studies": 1370, "tables": (1, 5), "vars": (5, 45)},
    "heal_ingest": {"studies": 120, "dicts": (1, 3), "vars": (4, 16)},
    "lake_index": {"studies": (60, 30), "tables": (1, 7), "vars": (1, 14)},
}

WORDS = ("blood pressure heart lung sleep pain opioid visit exam baseline "
         "follow-up cohort adult child smoking diet glucose insulin score "
         "measure status history treatment dose response").split()
PROGRAMS = ["topmed|parent", "TOPMed", "BioLINCC", "COVID 19|covid19",
            "parent/child|topmed", "Imaging", "lung map"]
STUDY_TYPES = ["HEAL Research Network", "HEAL Studies", "Other / Pilot"]
REQUIRED_STUDY_FIELDS = ["Accession", "Consent", "Study Name", "Program",
                         "Description"]
LABELS = ["Male", "Female", "Yes", "No", "Don't know", "It's fine",
          "a, b", 'said "no"', "Mild", "Severe", "<5 & >2"]


def normalize_name(s, default):
    """Mirror of Projections.normalizeName: first pipe token, trimmed,
    spaces and slashes to '_', lowercased."""
    if s is None:
        return default
    v = re.sub(r"[ /]", "_", s.split("|", 1)[0].strip()).lower()
    return v or default


def balanced(rng, n, bounds):
    """n counts within `bounds` whose sum does not depend on the seed: the
    values cycle through the range and only their order is drawn. Every
    seed then gives inputs of the same size."""
    lo, hi = bounds
    counts = [lo + i % (hi - lo + 1) for i in range(n)]
    rng.shuffle(counts)
    return counts


def exactly(rng, n, share):
    """A seed-chosen set of round(n * share) indices below n."""
    return set(rng.sample(range(n), round(n * share)))


def words(rng, lo, hi):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def text(rng):
    """Free text with the characters every sink must escape."""
    t = words(rng, 3, 9)
    r = rng.random()
    if r < 0.15:
        t += ", with a comma"
    elif r < 0.25:
        t += ' & a "quote" <tag>'
    return t.capitalize()


def pyliteral(labels, rng):
    """`labels` as a Python-literal list, the way the PicSure export writes
    it: either quote style, with backslash escapes where a label holds the
    quote character."""
    parts = []
    for lab in labels:
        if "'" in lab and rng.random() < 0.5:
            parts.append("'" + lab.replace("'", "\\'") + "'")
        elif "'" in lab or rng.random() < 0.3:
            parts.append('"' + lab.replace('"', '\\"') + '"')
        else:
            parts.append("'" + lab + "'")
    return "[" + ", ".join(parts) + "]"


def csv_field(v):
    """Spark's CSV dialect: '"' quotes, '\\' escapes a quote inside quotes."""
    if v is None:
        return ""
    if v == "" or any(c in v for c in ',"\\\n') or v != v.strip():
        return '"' + v.replace('\\', '\\\\').replace('"', '\\"') + '"'
    return v


def write_csv(path, header, rows):
    body = [",".join(header)] + [",".join(csv_field(v) for v in r) for r in rows]
    write_text(path, "\n".join(body) + "\n")


def write_text(path, content):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        f.write(content)
    os.replace(path + ".tmp", path)


def xml_escape(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


# --------------------------------------------------------------- bdc_ingest

def gen_bdc(rng, root, size):
    n = size["studies"]
    nums = rng.sample(range(1, 999999), n + n // 10)
    gen3_nums, orphan_nums = nums[:n], nums[n:]
    gen3_rows, studies = [], []
    invalid = exactly(rng, n, 0.05)  # 5% of studies lack a required field
    for i, num in enumerate(gen3_nums):
        acc = "phs%06d.v%d" % (num, rng.randint(1, 40))
        row = {"Accession": acc, "Consent": "c%d" % rng.randint(1, 3),
               "Study Name": words(rng, 2, 4).title(),
               "Program": rng.choice(PROGRAMS),
               "Last modified": "2026-%02d-%02d" % (rng.randint(1, 12), rng.randint(1, 28)),
               "Notes": rng.choice(["", 'Name: X, short name: "X".', words(rng, 1, 3)]),
               "Description": text(rng)}
        reason = None
        if i in invalid:
            field = rng.choice(REQUIRED_STUDY_FIELDS)
            row[field] = rng.choice([None, "   "])
            reason = "missing " + field
        gen3_rows.append([row[c] for c in ("Accession", "Consent", "Study Name", "Program",
                                           "Last modified", "Notes", "Description")])
        studies.append((num, row, reason))
    write_csv(os.path.join(root, "gen3.csv"),
              ["Accession", "Consent", "Study Name", "Program", "Last modified",
               "Notes", "Description"], gen3_rows)

    # picsure: 9 in 10 gen3 studies have variables (valid or not), plus
    # picsure-only studies that join nothing
    pic_rows, dt_seq, var_seq = [], iter(range(10 ** 5, 10 ** 6)), iter(range(10 ** 7, 10 ** 8))
    tables = {}       # (study num) -> [(dt_id, n_vars, n_values)]
    dirty, n_labels, label_set = 0, 0, set()
    with_vars = [studies[i][0] for i in sorted(exactly(rng, n, 0.9))] + orphan_nums
    n_tables = balanced(rng, len(with_vars), size["tables"])
    n_vars = iter(balanced(rng, sum(n_tables), size["vars"]))
    for num, nt in zip(with_vars, n_tables):
        for _ in range(nt):
            dt = "pht%06d" % next(dt_seq)
            group = text(rng)
            nv, nvals = 0, 0
            for _ in range(next(n_vars)):
                var = "phv%08d" % next(var_seq)
                name = "V%d_%s" % (rng.randint(1, 999), rng.choice(WORDS).upper())
                cat = rng.random() < 0.3
                labels = rng.sample(LABELS, rng.randint(2, 5)) if cat else []
                values = pyliteral(labels, rng) if cat else rng.choice(["", "[]"])
                if rng.random() < 0.05 and cat:
                    values = "[1, 2, None]"  # bare tokens parse as strings
                    labels = ["1", "2", "None"]
                row = ["phs%06d" % num, dt, var, name, "g" + dt[-2:], text(rng),
                       name.lower(), text(rng), group,
                       rng.choice(["True", "true"]) if cat else rng.choice(["False", ""]),
                       values]
                if rng.random() < 0.03:  # the clean rule must drop these
                    k = rng.choice([2, 3, 5, "prefix"])
                    if k == "prefix":
                        row[2] = "xyz%06d" % rng.randint(0, 999999)
                    else:
                        row[k] = None
                    dirty += 1
                else:
                    nv += 1
                    nvals += len(labels)
                    label_set.update(labels)
                    n_labels += len(labels)
                pic_rows.append(row)
            if nv:
                tables.setdefault(num, []).append((dt, nv, nvals))
    rng.shuffle(pic_rows)
    write_csv(os.path.join(root, "picsure.csv"),
              ["studyId", "dtId", "varId", "derived_var_name", "derived_group_name",
               "description", "columnmeta_name", "columnmeta_description",
               "columnmeta_var_group_description", "is_categorical", "values"], pic_rows)

    docs, rejects, valid_ids, variables, values = {}, {}, set(), 0, 0
    per_doc = {}
    for num, row, reason in studies:
        if reason:
            rejects[reason] = rejects.get(reason, 0) + 1
            continue
        valid_ids.add("phs%06d" % num)
        pdir = normalize_name(row["Program"], "unknown_program")
        docs[pdir] = docs.get(pdir, 0) + 1 + len(tables.get(num, []))
        for dt, nv, nvals in tables.get(num, []):
            per_doc["%s/%s/%s.data_dict.xml" % (pdir, row["Accession"], dt)] = nv
            variables += nv
            values += nvals
    overlap = sorted(valid_ids & {"phs%06d" % k for k in tables})
    return {
        "inputs": {"studies": n, "picsure_rows": len(pic_rows), "picsure_dirty": dirty,
                   "files": 2},
        "variables": variables,
        "docs_per_dir": docs, "vars_per_doc": per_doc, "values": values,
        "valid": len(valid_ids), "rejects": rejects, "overlap_ids": overlap,
        "picsure_clean": len(pic_rows) - dirty, "picsure_labels": n_labels,
        "distinct_labels": sorted(label_set),
    }


# -------------------------------------------------------------- heal_ingest

def heal_field(rng, name):
    f = {("name" if rng.random() < 0.8 else "property"): name,
         rng.choice(["section", "section", "module", "node"]): rng.choice(WORDS),
         "title": words(rng, 1, 3).title(), "description": text(rng),
         "type": rng.choice(["integer", "string", "number", "date"])}
    cons = {}
    if rng.random() < 0.4:
        cons["minimum"], cons["maximum"] = 0, rng.randint(1, 100)
    nvals = 0
    r = rng.random()
    if r < 0.25:
        keys = sorted(rng.sample([str(k) for k in range(10)], rng.randint(2, 4)))
        f["enumLabels"] = {k: rng.choice(LABELS) for k in keys}
        nvals = len(keys)
    elif r < 0.4:
        keys = sorted(rng.sample([str(k) for k in range(10)], rng.randint(2, 4)))
        cons["encodings"] = "|".join("%s=%s" % (k, rng.choice(["No", "Yes", "Mild", "Severe"]))
                                     for k in keys)
        cons["enum"] = keys
        nvals = len(keys)
    if cons:
        f["constraints"] = cons
    return f, nvals


def gen_heal(rng, root, size):
    n = size["studies"]
    ids = ["HDP%05d" % k for k in sorted(rng.sample(range(1, 99999), n))]
    mapping, study_type = [], {}
    mapped = exactly(rng, n, 0.9)  # one in ten studies is missing from the map
    for i, sid in enumerate(ids):
        if i in mapped:
            t = rng.choice(STUDY_TYPES)
            study_type[sid] = t
            mapping.append([sid, "Yes" if "Network" in t else "No", t,
                            rng.choice(["ACT NOW", "HOPE", ""])])
    write_csv(os.path.join(root, "mapping.csv"),
              ["HDPID", "Part of a Research Network?", "HEAL Study Type",
               "Research Network Name"], mapping)

    rows, docs, dd_rows, stubs, values = 0, {}, 0, 0, 0
    n_dicts = balanced(rng, n, size["dicts"])
    stub_at = exactly(rng, sum(n_dicts), 0.1)
    n_vars = iter(balanced(rng, sum(n_dicts), size["vars"]))
    for sid, nd in zip(ids, n_dicts):
        dicts = []
        for k in range(nd):
            dd_id = "HEALCDE:%s-dd-%d" % (sid.lower(), k)
            nv = next(n_vars)
            if dd_rows + k in stub_at:
                dicts.append({"@id": dd_id, "label": "Missing dict",
                              "error": "404 not found", "fields": []})
                stubs += 1
                continue
            names = ["%s_%d" % (rng.choice(WORDS).replace("-", "_"), j)
                     for j in range(nv)]
            # repeated names exercise the uniquify window
            names += rng.sample(names, min(len(names), rng.randint(0, 2)))
            fields = []
            for nm in names:
                f, nvals = heal_field(rng, nm)
                fields.append(f)
                values += nvals
            dicts.append({"@id": dd_id, "label": words(rng, 1, 3).title(),
                          "fields": fields})
            rows += len(fields)
            pdir = normalize_name(study_type.get(sid), "heal_studies")
            docs[pdir] = docs.get(pdir, 0) + 1
        dd_rows += len(dicts)
        doc = {"gen3_discovery": {
                   "_hdp_uid": sid, "appl_id": str(rng.randint(10 ** 7, 10 ** 8)),
                   "date_added": "2024-%02d-01" % rng.randint(1, 12),
                   "project_title": words(rng, 2, 5).title(),
                   "research_program": rng.choice(["NIDA", "NINDS", "NIAMS"]),
                   "study_metadata": {"minimal_info": {
                       "study_name": words(rng, 2, 4).title(),
                       "study_description": text(rng)}}},
               "nih_reporter": {"project_start_date": "2020-01-01",
                                "project_end_date": "2024-12-31"},
               "variable_level_metadata": {"data_dictionaries": {
                   d.get("label", ""): d["@id"] for d in dicts}},
               "data_dictionaries": dicts}
        write_text(os.path.join(root, "mds", sid + ".json"), json.dumps(doc, indent=1))
    return {
        "inputs": {"studies": n, "files": n + 1, "dictionaries": dd_rows,
                   "stub_dictionaries": stubs},
        "variables": rows, "index_rows": rows, "docs_per_dir": docs, "values": values,
        "kgx_nodes": n + dd_rows, "kgx_edges": dd_rows, "mapping_rows": len(mapping),
    }


# --------------------------------------------------------------- lake_index

def gen_lake(rng, root, size):
    pivot, files, total, tables = {}, 0, {}, {}
    bdc_ids = ["phs%06d.v%d" % (k, rng.randint(1, 9))
               for k in rng.sample(range(1, 999999), size["studies"][0])]
    # half of the heal repository re-indexes bdc studies, so the pivot
    # has rows with both columns set
    n_heal = size["studies"][1]
    heal_ids = rng.sample(bdc_ids, n_heal // 2) + [
        "phs%06d.v0" % k for k in rng.sample(range(1, 999999), n_heal - n_heal // 2)]
    for repo, ids in (("bdc", bdc_ids), ("heal", heal_ids)):
        total[repo], tables[repo] = 0, 0
        n_tables = balanced(rng, len(ids), size["tables"])
        n_vars = iter(balanced(rng, sum(n_tables), size["vars"]))
        for study, nt in zip(ids, n_tables):
            sdir = os.path.join(root, repo, study)
            for t in range(nt):
                dt = "pht%06d" % rng.randint(0, 999999)
                nv = next(n_vars)
                out = ['<?xml version="1.0" encoding="UTF-8"?>',
                       '<?xml-stylesheet type="text/xsl" href="./datadict_v2.xsl"?>',
                       '<data_table id="%s" study_id="%s" participant_set="1" study_name="%s">'
                       % (dt, study, xml_escape(words(rng, 2, 4)))]
                out.append("  <description>%s</description>" % xml_escape(text(rng)))
                for v in range(nv):
                    out.append('  <variable id="phv%08d">' % rng.randint(0, 10 ** 8 - 1))
                    out.append("    <name>%s</name>" % rng.choice(WORDS).upper())
                    out.append("    <description>%s</description>" % xml_escape(text(rng)))
                    cat = rng.random() < 0.3
                    out.append("    <type>%s</type>" % ("encoded value" if cat else "string"))
                    if cat:
                        for c, lab in enumerate(rng.sample(LABELS, 2), 1):
                            out.append('    <value code="%d">%s</value>' % (c, xml_escape(lab)))
                    out.append("  </variable>")
                out.append("</data_table>")
                # table ids repeat across studies by chance; file names stay unique
                write_text(os.path.join(sdir, "%s.%d.data_dict.xml" % (dt, t)),
                           "\n".join(out) + "\n")
                files += 1
                tables[repo] += 1
                pivot.setdefault(study, {"bdc": 0, "heal": 0})[repo] += nv
                total[repo] += nv
            # the companion frame matches the *.xml glob but holds no data_table
            write_text(os.path.join(sdir, "GapExchange_%s.xml" % study),
                       '<?xml version="1.0" encoding="UTF-8"?>\n<GaPExchange><Studies>'
                       '<Study accession="%s"/></Studies></GaPExchange>\n' % study)
            files += 1
    return {
        "inputs": {"studies": len(pivot), "files": files},
        "variables": total["bdc"] + total["heal"], "pivot_sums": total,
        "tables": tables,
        "pivot": {k: pivot[k] for k in sorted(pivot)},
    }


GENERATORS = {"bdc_ingest": gen_bdc, "heal_ingest": gen_heal, "lake_index": gen_lake}


def input_bytes(root):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def ensure_inputs(workload, seed, cache_root):
    """Return the directory holding the inputs for (workload, seed, size),
    generating them once."""
    size = SIZES[workload]
    with open(__file__, "rb") as f:  # a changed generator regenerates
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    key = "%s-s%d-%s-%s" % (workload, seed,
                            "x".join(str(v) for vs in size.values()
                                     for v in (vs if isinstance(vs, tuple) else (vs,))),
                            version)
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "expected.json")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # string seeds hash deterministically, unlike tuples of str under
    # PYTHONHASHSEED randomisation
    rng = random.Random("%s:%d" % (workload, seed))
    expected = GENERATORS[workload](rng, tmp, size)
    expected["inputs"]["bytes"] = input_bytes(tmp)
    expected["inputs"]["seed"] = seed
    expected["size"] = size
    write_text(os.path.join(tmp, "expected.json"), json.dumps(expected, sort_keys=True))
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final
