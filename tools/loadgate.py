#!/usr/bin/env python3
"""Flag bench/soak artifacts whose measurement window was contended.

Usage: python3 tools/loadgate.py <artifact.json> [...]

Reads the `host` block Bench/Soak/AdversarialScale/OccupancyReport embed
(VERDICT r16 task 4: two rounds of perf adjudication were burned on external
box load) and the per-query `load1` samples in Bench's `attrib`, and prints a
verdict per artifact:

  CLEAN     — adjudicate the numbers as plan costs
  CONTENDED — external load or hypervisor steal inside the window; the
              numbers are upper bounds, never regressions. Re-run in a
              quiet window before adjudicating.

Accepted artifact shapes (VERDICT r17 task 1 — the gate must parse every
committed artifact class, including the one the 2x criterion is judged
on):
  - Bench/Soak/AdversarialScale/OccupancyReport single-line JSON with an
    embedded `host` block (and, for Bench, per-query `attrib` load1
    samples);
  - the driver's pretty-printed BENCH_r{N}.json wrapper
    `{n, rc, cpus, sf, tail, parsed}`: the full per-query line is
    truncated to the last 2000 bytes of stdout, which cuts off the
    `host` block but keeps the final attrib entries — the gate extracts
    the surviving per-query `load1` samples from `tail` and gates on
    those, reporting the reduced evidence scope explicitly.

Thresholds (tuned to this box's observed failure modes, overridable by
env):
  - load1_before > LOADGATE_MAX_LOAD1 (default 2.0): the minute BEFORE
    the run already carried external load (r16's one-shot ran at 8.9);
  - steal_delta_sec > LOADGATE_MAX_STEAL_FRAC (default 0.02) x window
    estimate: the hypervisor took >2% of the window from the guest
    (r16: steal inflated tcpu 7x on identical work);
  - any per-query load1 sample > ncpu x LOADGATE_MAX_LOAD_RATIO
    (default 1.5): mid-run external burst (our own local[32] work
    cannot push 1-min load past ~ncpu by itself for long).

Exit code (ADVICE r17: an unreadable artifact must not gate as clean):
CONTENDED and ERROR artifacts both count toward the non-zero exit code.
NO-HOST-BLOCK (pre-r16 artifacts) stays exit-0 by default so historical
sweeps aren't noisy; set LOADGATE_STRICT=1 to count it too.
"""
import json
import os
import re
import sys

MAX_LOAD1 = float(os.environ.get("LOADGATE_MAX_LOAD1", "2.0"))
MAX_STEAL_FRAC = float(os.environ.get("LOADGATE_MAX_STEAL_FRAC", "0.02"))
MAX_LOAD_RATIO = float(os.environ.get("LOADGATE_MAX_LOAD_RATIO", "1.5"))
STRICT = os.environ.get("LOADGATE_STRICT", "0") == "1"

# per-query attrib entry as it appears in Bench's full JSON line — used
# to recover load1 samples from the driver wrapper's truncated `tail`
# (the leading entry may be cut mid-object; the regex only matches
# complete `"name":{...}` spans)
_ATTRIB_RE = re.compile(
    r'"([A-Za-z0-9_]+)":\{("wall"[^{}]*?"load1":(-?[0-9.]+)[^{}]*?)\}')


def _load(path):
    """Parse an artifact: single-line JSON (the builder's own format) or
    the driver's pretty-printed multi-line wrapper."""
    with open(path) as f:
        text = f.read()
    try:
        return json.loads(text)
    except ValueError:
        # one JSON object per line; gate the first line
        return json.loads(text.splitlines()[0])


def _unwrap_driver(art):
    """Convert the driver's {n, rc, cpus, sf, tail, parsed} wrapper into
    a gateable pseudo-artifact. The tail keeps the END of Bench's full
    line: the last attrib entries (with load1 samples) plus the compact
    totals line; the host block is truncated away, so the wrapper gates
    on load1 samples only — reduced evidence, reported as such."""
    tail = art.get("tail", "")
    parsed = art.get("parsed") or {}
    attrib = {}
    for name, body, load1 in _ATTRIB_RE.findall(tail):
        attrib[name] = {"load1": float(load1)}
    out = {
        "value": parsed.get("value", 0),
        "attrib": attrib,
        # host block with only ncpu: the load-ratio criterion applies,
        # the before-load and steal criteria report as unavailable
        "host": {"ncpu": art.get("cpus", 0)},
        "_evidence": (
            f"driver wrapper: host block truncated; gating on "
            f"{len(attrib)} per-query load1 samples recovered from tail"),
    }
    return out


def gate(path):
    art = _load(path)
    if isinstance(art, dict) and "tail" in art and "parsed" in art:
        wrapped = _unwrap_driver(art)
        if not wrapped["attrib"]:
            if '"wall"' in art.get("tail", ""):
                # pre-r17 wrapper: attrib entries exist but predate the
                # per-query load1 sampling — absent evidence, not a
                # broken artifact
                return ("NO-HOST-BLOCK",
                        ["driver wrapper predates per-query load1 "
                         "sampling; no gateable evidence survives the "
                         "tail truncation"])
            return ("ERROR", ["driver wrapper carries no recoverable "
                              "load1 samples in tail"])
        art = wrapped
    host = art.get("host")
    hosts = art.get("hosts")
    if host is None and not hosts:
        # merged artifacts (e.g. pre-r18 steady min-of-2 wrappers) may
        # drop the host block but keep per-query load1 samples in
        # attrib — gate on those instead of reporting absent evidence
        samples = sum(1 for v in art.get("attrib", {}).values()
                      if isinstance(v, dict) and "load1" in v)
        if samples == 0:
            return ("NO-HOST-BLOCK",
                    ["artifact predates load gating; "
                     "re-run to produce a gateable artifact"])
        host = {}
        art = dict(art)
        art["_evidence"] = (f"no host block; gating on {samples} "
                            "per-query load1 samples in attrib")
    reasons = []
    notes = [art["_evidence"]] if "_evidence" in art else []
    # window estimate: bench carries total seconds in `value`, soak in
    # pass1+pass2; min-of-N merges carry each run's total
    windows = art.get("run_totals") or [art.get("value") or (
        art.get("pass1_sec", 0) + art.get("pass2_sec", 0)) or 0]
    ncpu = 0
    for i, h in enumerate(hosts if hosts else [host]):
        tag = f"run{i + 1} " if hosts else ""
        lb = h.get("load1_before", -1)
        if lb > MAX_LOAD1:
            reasons.append(f"{tag}load1_before={lb} > {MAX_LOAD1} "
                           "(external load before the run started)")
        ncpu = max(ncpu, h.get("ncpu", 0))
        window = windows[i] if i < len(windows) else windows[-1]
        steal = h.get("steal_delta_sec", -1)
        if steal >= 0 and window > 0 and steal > MAX_STEAL_FRAC * window:
            reasons.append(f"{tag}steal_delta_sec={steal} > "
                           f"{MAX_STEAL_FRAC} x {window:.0f}s window "
                           "(hypervisor steal)")
    ncpu = ncpu or os.cpu_count() or 1
    attrib = art.get("attrib", {})
    hot = {k: v.get("load1", -1) for k, v in attrib.items()
           if isinstance(v, dict) and v.get("load1", -1) > ncpu * MAX_LOAD_RATIO}
    if hot:
        worst = sorted(hot.items(), key=lambda kv: -kv[1])[:5]
        reasons.append(
            f"{len(hot)} queries saw load1 > {ncpu}x{MAX_LOAD_RATIO} "
            f"mid-run (worst: {worst})")
    return (("CONTENDED", reasons + notes) if reasons else ("CLEAN", notes))


def main():
    paths = sys.argv[1:]
    if not paths:
        print(__doc__)
        return 2
    n_bad = 0
    for p in paths:
        try:
            verdict, reasons = gate(p)
        except Exception as ex:
            verdict, reasons = "ERROR", [str(ex)]
        # an unreadable artifact must not gate as clean (ADVICE r17):
        # ERROR counts toward the exit code alongside CONTENDED
        if verdict in ("CONTENDED", "ERROR"):
            n_bad += 1
        elif verdict == "NO-HOST-BLOCK" and STRICT:
            n_bad += 1
        print(f"{verdict:10s} {p}")
        for r in reasons:
            print(f"           - {r}")
    return n_bad


if __name__ == "__main__":
    sys.exit(main())
