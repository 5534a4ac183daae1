"""Output checker for the daemon workloads.

Every line posted to the stub InfluxDB must
- parse under the line-protocol grammar the daemon writes: measurement
  `packet`, one `format` tag, comma-separated fields whose values are quoted
  strings or finite numbers (a NaN or inf field fails the grammar);
- carry the id of an expected frame, and each expected id must arrive exactly
  once;
- have the expected `format=` tag, a `raw` field that unescapes to exactly
  the frame that was sent, and, for frames with comment telemetry, one
  analog per channel sent, each equal to a*x^2 + b*x + c under the
  station's last EQNS sent before it.

A failure is an expected line that is lost, duplicated or wrong, plus any
line that matches no expected frame.
"""
import math
import multiprocessing
import os
import re

from gen import ID_RE

# possessive quantifiers (Python 3.11+) keep the grammar check linear
_STR = r'"[^"\\]*+(?:\\.[^"\\]*+)*+"'
_NUM = r"-?+(?:\d++\.?+\d*+|\.\d++)(?:[eE][-+]?+\d++)?+"
_FIELD = r"[A-Za-z0-9_]++=(?:%s|%s)" % (_STR, _NUM)
LINE_RE = re.compile(r"packet,format=([a-z-]++) %s(?:,%s)*+\Z" % (_FIELD, _FIELD))
STR_RE = re.compile(_STR)
ANALOG_RE = re.compile(r",analog([1-5])=(%s)" % _NUM)
_UNESC = re.compile(r"\\(.)")


def split_posts(posts):
    """[(arrival, body)] -> [(arrival, line)] in arrival order."""
    out = []
    for t, body in sorted(posts, key=lambda p: p[0]):
        for line in body.decode("utf-8", "replace").split("\n"):
            if line:
                out.append((t, line))
    return out


_expected = {}                   # read by _verdicts in forked workers


def _verdict(line, expected):
    """(frame id or None, None if the line is right else why not)"""
    at = line.find(',raw="')
    raw_m = STR_RE.match(line, at + 5) if at >= 0 else None
    raw = _UNESC.sub(r"\1", raw_m.group(0)[1:-1]) if raw_m else ""
    id_m = ID_RE.search(raw)
    ident = id_m.group(0) if id_m else None
    exp = expected.get(ident)
    if exp is None:
        return ident, None
    m = LINE_RE.match(line)
    if m is None:
        return ident, "grammar"
    fmt, raw_sent, analogs = exp
    if m.group(1) != fmt or raw != raw_sent:
        return ident, "format or raw, expected %s %r" % (fmt, raw_sent)
    got = {int(k): float(v) for k, v in ANALOG_RE.findall(line)} \
        if ",analog" in line else {}
    if analogs is not None:
        if sorted(got) != list(range(1, len(analogs) + 1)) or not all(
                math.isclose(got[k + 1], a, rel_tol=1e-10, abs_tol=1e-9)
                for k, a in enumerate(analogs)):
            return ident, "analogs, expected %r" % (analogs,)
    elif got:
        return ident, "unexpected analogs"
    return ident, None


def _verdicts(lines):
    return [_verdict(line, _expected) for _, line in lines]


def check(lines, expected):
    """`lines`: [(arrival, line)]; `expected`: id -> (fmt, raw, analogs).
    Returns (report dict, arrival time per id that arrived). Lines are
    judged in parallel, one forked worker per CPU, then counted in arrival
    order."""
    global _expected
    _expected = expected
    workers = os.cpu_count() or 1
    step = max(1, -(-len(lines) // workers))
    chunks = [lines[i:i + step] for i in range(0, len(lines), step)]
    with multiprocessing.get_context("fork").Pool(min(workers, max(1, len(chunks)))) as pool:
        verdicts = [v for part in pool.map(_verdicts, chunks) for v in part]
    _expected = {}
    arrival = {}
    dup, wrong, unexpected, bad_grammar = set(), set(), 0, 0
    examples = []
    for (t, line), (ident, why) in zip(lines, verdicts):
        if ident not in expected:
            unexpected += 1
            continue
        if ident in arrival:
            dup.add(ident)
            continue
        arrival[ident] = t
        if why:
            wrong.add(ident)
            bad_grammar += why == "grammar"
            if len(examples) < 3:
                examples.append({"id": ident, "why": why, "line": line[:400]})
    missing = len(expected) - len(arrival)
    failed = missing + len(dup | wrong) + unexpected
    report = {"expected": len(expected), "arrived": len(arrival),
              "missing": missing, "duplicated": len(dup), "wrong": len(wrong),
              "bad_grammar": bad_grammar, "unexpected": unexpected,
              "failed": failed, "examples": examples}
    return report, arrival
