#!/usr/bin/env python3
"""Generate INDEX.md — the user-facing operator index.

372 query keys across 30+ modules were previously navigable only via
SURVEY.md's round-ordered tables. This tool derives, per registered
query key:

  - the registration site (queries/<Family>.scala:line — where the Spark
    plan is declared and the oracle SQL lives next to it);
  - the implementation modules the registration body calls into
    (graft.ops/features/exports/... objects referenced from its Q line
    up to the next key's leading comment);
  - the spec files that exercise the key or its modules;
  - the SCALE.md section(s) that measure or adjudicate the key.

Derivation is purely textual (grep-grade) on purpose: the table must
be regenerable by anyone with the repo and no running Spark. CI-grade
sync is enforced by IndexSyncSpec, which compares INDEX.md's key set
against SparkEntry.queries at test time — adding a query without
regenerating the index fails `sbt test`.

Usage: python3 tools/gen_index.py   (writes INDEX.md in the repo root)
"""
import os
import re
from collections import OrderedDict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(REPO, "src/main/scala/graft")
QUERIES = os.path.join(SRC, "queries")
TEST = os.path.join(REPO, "src/test/scala/graft")
SCALE = os.path.join(REPO, "SCALE.md")

# object name -> module path, built from the main source tree
def module_map():
    mods = {}
    for root, _, files in os.walk(SRC):
        for f in files:
            if not f.endswith(".scala"):
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, REPO)
            with open(p) as fh:
                for m in re.finditer(r"^object (\w+)", fh.read(), re.M):
                    mods[m.group(1)] = rel
    return mods


def registrations():
    """key -> ("queries/<File>.scala:line", body) from every Q("key", ...)
    site under graft/queries/. A body runs from its Q line to the next
    key's leading comment, so a key's modules come from its own call."""
    out = OrderedDict()
    for f in sorted(os.listdir(QUERIES)):
        if not f.endswith(".scala"):
            continue
        with open(os.path.join(QUERIES, f)) as fh:
            lines = fh.readlines()
        sites = []  # (key, line_no_1based)
        for i, ln in enumerate(lines):
            m = re.search(r'\bQ\("([a-z0-9_]+)"', ln)
            if m:
                sites.append((m.group(1), i + 1))
        for j, (key, ln) in enumerate(sites):
            end = sites[j + 1][1] - 1 if j + 1 < len(sites) else len(lines)
            while end > ln and (lines[end - 1].lstrip().startswith("//")
                                or not lines[end - 1].strip()):
                end -= 1
            out[key] = (f"queries/{f}:{ln}", "".join(lines[ln - 1:end]))
    return out


def spec_map(keys):
    """key -> spec files that mention it literally."""
    hits = {k: [] for k in keys}
    for f in sorted(os.listdir(TEST)):
        if not f.endswith(".scala"):
            continue
        with open(os.path.join(TEST, f)) as fh:
            text = fh.read()
        for k in keys:
            if k in text:
                hits[k].append(f)
    return hits


def scale_map(keys):
    """key -> SCALE.md section headings that mention it."""
    with open(SCALE) as fh:
        lines = fh.readlines()
    current = "(intro)"
    hits = {k: [] for k in keys}
    for ln in lines:
        h = re.match(r"^#{1,3} (.+)", ln)
        if h:
            current = h.group(1).strip()
            continue
        for k in keys:
            if k in ln and current not in hits[k]:
                hits[k].append(current)
    return hits


# query keys are substrings of each other (dedup_containment /
# dedup_containment_prefix): match on word boundaries
def refine_substring_hits(keys, mapper):
    longer = {k: [o for o in keys if k != o and k in o] for k in keys}
    return longer


def main():
    mods = module_map()
    regs = registrations()
    keys = list(regs)
    specs = spec_map(keys)
    scales = scale_map(keys)

    # implementation modules referenced by each registration body
    mod_refs = {}
    for k, (_, body) in regs.items():
        found = []
        for obj in re.findall(r"\b([A-Z]\w+)\.", body):
            p = mods.get(obj)
            if p and "SparkEntry" not in p and "/queries/" not in p \
                    and p not in found:
                found.append(p)
        mod_refs[k] = found

    rows = []
    for k, (site, _) in regs.items():
        mm = [m.replace("src/main/scala/graft/", "") for m in mod_refs[k]]
        sp = [s for s in specs[k]]
        sc = scales[k][:2]
        rows.append((k, site, ", ".join(mm[:3]), ", ".join(sp[:3]) or "—",
                     "; ".join(sc) or "—"))

    with open(os.path.join(REPO, "INDEX.md"), "w") as out:
        out.write(
            "# Operator index\n\n"
            "One row per registered query key (the engine's public "
            "operator surface,\nSURVEY.md §2). GENERATED by "
            "`python3 tools/gen_index.py` — do not edit by\nhand; "
            "IndexSyncSpec fails `sbt test` when this file and "
            "`SparkEntry.queries`\ndisagree.\n\n"
            "- **registered**: `src/main/scala/graft/` file and line "
            "declaring the plan +\n  oracle SQL.\n"
            "- **modules**: implementation files under "
            "`src/main/scala/graft/` the\n  registration calls into "
            "(empty = inline DataFrame expression).\n"
            "- **specs**: test files mentioning the key "
            "(`src/test/scala/graft/`).\n  Every key is additionally "
            "covered by the driver's DuckDB oracle\n  (CORRECTNESS "
            "artifacts) even when no named spec exists.\n"
            "- **SCALE.md**: sections measuring or adjudicating the "
            "key at scale.\n\n"
            f"{len(rows)} keys.\n\n"
            "| key | registered | modules | specs | SCALE.md |\n"
            "|---|---|---|---|---|\n")
        for k, site, mm, sp, sc in rows:
            out.write(f"| `{k}` | {site} | {mm} | {sp} "
                      f"| {sc} |\n")
    print(f"[gen_index] wrote INDEX.md with {len(rows)} keys")


if __name__ == "__main__":
    main()
