"""Output checks for one benchmark sample.

`check(workload, out_dir, harness_result, expected)` returns the list of
problems found (empty when the sample is correct). Every expected count is
derived by the generator from the inputs it wrote, never from an earlier
run of the program.

`digest(workload, out_dir, harness_result)` is a canonical hash of the
output tree: sorted relative paths, Spark part-file names stripped, rows of
unordered CSV sinks sorted. Samples of one seed must agree on it.
"""
import collections
import csv
import hashlib
import json
import os
import re

PART_FILE = re.compile(r"^part-\d+-.*?(\.[a-z]+)$")
# files and dirs Spark leaves beside its outputs, and the traced run's own
# span outputs, are not part of the lifecycle's output tree
SKIP = {"_SUCCESS", "spark-local", "spark-warehouse", "spans", "tmp"}


def output_files(root):
    """Yields (canonical relative path, absolute path) for every output
    file under `root`, sorted by canonical path."""
    found = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in SKIP]
        for f in files:
            if f in SKIP or f.startswith(".") or f.endswith(".crc"):
                continue
            rel = os.path.relpath(os.path.join(d, PART_FILE.sub(r"part\1", f)), root)
            found.append((rel, os.path.join(d, f)))
    return sorted(found)


def digest(workload, out_dir, result):
    h = hashlib.sha256()
    if workload == "lake_index":
        h.update(json.dumps(result.get("pivot"), sort_keys=True).encode())
        return h.hexdigest()
    for rel, path in output_files(out_dir):
        with open(path, "rb") as f:
            data = f.read()
        if rel.endswith(".csv"):  # written in task order: sort the body rows
            lines = data.split(b"\n")
            data = b"\n".join(lines[:1] + sorted(lines[1:]))
        h.update(rel.encode() + b"\0" + hashlib.sha256(data).digest())
    return h.hexdigest()


def compare(problems, what, got, want):
    if got != want:
        text = "%s: got %r, expected %r" % (what, got, want)
        problems.append(text if len(text) < 400 else text[:400] + "...")


def check_docs(problems, xml_root, want_per_dir, want_vars, want_values,
               vars_per_doc=None):
    per_dir = collections.Counter()
    variables = values = 0
    got_per_doc = {}
    for rel, path in output_files(xml_root):
        if not rel.endswith(".xml"):
            continue
        per_dir[rel.split(os.sep)[0]] += 1
        with open(path, encoding="utf-8") as f:
            content = f.read()
        if "<data_table " in content:
            n = content.count("<variable ")
            got_per_doc[rel] = n
            variables += n
            values += content.count("<value ")
    compare(problems, "documents per dir", dict(per_dir), want_per_dir)
    compare(problems, "variables written", variables, want_vars)
    compare(problems, "values written", values, want_values)
    if vars_per_doc is not None:
        bad = sorted(k for k in set(got_per_doc) | set(vars_per_doc)
                     if got_per_doc.get(k) != vars_per_doc.get(k))
        compare(problems, "documents with wrong variable counts", bad[:5], [])


def check_bdc(problems, out, exp):
    docs = os.path.join(out, "docs")
    check_docs(problems, docs, exp["docs_per_dir"], exp["variables"], exp["values"],
               exp["vars_per_doc"])
    path = os.path.join(docs, "processing_summary.txt")
    if not os.path.exists(path):
        problems.append("processing_summary.txt missing")
        return
    with open(path, encoding="utf-8") as f:
        text = f.read()

    def number(label):
        m = re.search(r"^%s: (\d+)$" % re.escape(label), text, re.M)
        return int(m.group(1)) if m else None

    compare(problems, "studies processed", number("Successfully processed"), exp["valid"])
    compare(problems, "studies failed", number("Failed"), sum(exp["rejects"].values()))
    failed = text.split("\nFailed studies:\n", 1)[-1] if "\nFailed studies:\n" in text else ""
    reasons = collections.Counter(re.findall(r"^  \d+\. .* - Reason: (.*)$",
                                             failed.split("\n\n", 1)[0], re.M))
    compare(problems, "reject reasons", dict(reasons), exp["rejects"])
    compare(problems, "overlap count", number("Studies in both Gen3 and PicSure"),
            len(exp["overlap_ids"]))
    m = re.search(r"\nStudies found in both Gen3 and PicSure:\n  (.*)\n", text)
    compare(problems, "overlap ids", m.group(1).split("\t") if m else [], exp["overlap_ids"])


def check_heal(problems, out, exp):
    heal = os.path.join(out, "heal")
    check_docs(problems, os.path.join(heal, "xml"), exp["docs_per_dir"],
               exp["index_rows"], exp["values"])
    rows = []
    for rel, path in output_files(os.path.join(heal, "variable_index")):
        if rel.endswith(".csv"):
            with open(path, encoding="utf-8", newline="") as f:
                rows += list(csv.reader(f, doublequote=False, escapechar="\\"))[1:]
    compare(problems, "variable index rows", len(rows), exp["index_rows"])
    # after uniquify a name is unique within its (study, dictionary)
    compare(problems, "distinct index names", len({tuple(r[:3]) for r in rows}),
            exp["index_rows"])
    try:
        with open(os.path.join(heal, "kgx.json"), encoding="utf-8") as f:
            kgx = json.load(f)
        compare(problems, "kgx nodes", len(kgx["nodes"]), exp["kgx_nodes"])
        compare(problems, "kgx edges", len(kgx["edges"]), exp["kgx_edges"])
    except (OSError, ValueError, KeyError) as e:
        problems.append("kgx.json unreadable: %s" % e)


def check_lake(problems, result, exp):
    pivot = result.get("pivot") or {}
    compare(problems, "pivot rows", len(pivot), len(exp["pivot"]))
    sums = {r: sum(v.get(r, 0) for v in pivot.values()) for r in exp["pivot_sums"]}
    compare(problems, "pivot sums", sums, exp["pivot_sums"])
    bad = sorted(k for k in set(pivot) | set(exp["pivot"]) if pivot.get(k) != exp["pivot"].get(k))
    compare(problems, "studies with wrong pivot counts", bad[:5], [])


def check(workload, out, result, exp):
    problems = []
    if workload == "bdc_ingest":
        check_bdc(problems, out, exp)
    elif workload == "heal_ingest":
        check_heal(problems, out, exp)
    else:
        check_lake(problems, result, exp)
    return problems
