"""Seeded APRS-IS frame generator with the expected outcome of every frame.

Frame shapes follow the literals of src/test/scala/graft/WireParserSpec.scala:
the nine line-emitting formats, `EQNS`/`PARM` telemetry-messages, raw `T#`
telemetry, malformed frames and `#` server comments. Every frame that emits a
line carries a unique id `ZQnnnnnnnnn` in its comment or text; since every
emitting format writes the escaped `raw` field, the id comes back in the
posted line. For each such frame the generator records the expected `format=`
tag, the exact raw frame and, for frames with base91 comment telemetry, the
calibrated analogs a*x^2 + b*x + c of each channel it carries under the
station's last EQNS sent before it (identity when none).

APRS 1.2 also allows comment telemetry with 1 to 5 analog channels and no
digital byte (`telemetry_short`); the expected line then has analog1..n and
no `bits` field. The program fails that shape (5 channels: a `bits=` field
with no value, which is not line protocol; fewer: the packet is dropped), so
it is a known defect, not part of the timed mix: the benchmark's workloads
must be ones on which no operation fails. `Feed(..., known_defects=True)`
(`run.py --known-defects`) puts it back into the mix at 5 per 1000 frames,
and the checker then counts each such line as failed.

The generator keeps the calibration state of the stations it has addressed,
so the batches one `Feed` generates must reach the daemon in the order they
were generated.
"""
import random
import re

ID_PREFIX = "ZQ"
ID_RE = re.compile(ID_PREFIX + r"\d{9}")

# Weights of the mix, per 1000 non-comment frames. No public measurement of
# APRS-IS format shares is cited here: every weight is an ASSUMPTION, set by
# judgement of what the feed carries (position reports and mic-e dominate,
# text and telemetry formats are the minority). Every end-to-end figure and
# per-layer split holds for this mix only; `exchange.shuffle_bytes_per_frame`
# in particular moves with the telemetry share.
MIX = [
    ("uncompressed", 300),   # assumed the largest class: fixed stations, igates, APRS-IS clients
    ("telemetry_pos", 35),   # assumed: uncompressed position with 5-channel |ss..| comment telemetry
    ("wx_pos", 30),          # assumed: position weather stations
    ("compressed", 90),      # assumed: trackers using base91 positions
    ("compressed_wx", 20),   # assumed: compressed weather
    ("mic-e", 150),          # assumed the second class: mobile radios with built-in APRS
    ("object", 50),          # assumed: repeater/net objects
    ("status", 80),          # assumed
    ("wx", 40),              # assumed: positionless weather
    ("beacon", 30),          # assumed
    ("bulletin", 20),        # assumed
    ("message", 70),         # assumed
    ("eqns", 20),            # assumed: telemetry-message that writes calibration state
    ("parm", 10),            # assumed: telemetry-message without state update
    ("t_hash", 40),          # assumed: raw T# telemetry, parsed, emits nothing
    ("malformed", 10),       # ~1%: dropped by the parser
]
KNOWN_DEFECTS = [("telemetry_short", 5)]  # assumed rare: see the module docstring
COMMENT_EVERY = 500          # one `#` server comment per this many frames

COEFFS = ["0", "1", "0.5", "0.25", "2", "-1", "0.001", "0.0025", "3.5", "-12", "100"]


class _Random(random.Random):
    """random.Random with float-based randrange and choice: about three times
    faster than the exact integer versions, and still one fixed stream per
    seed."""

    def randrange(self, start, stop=None):
        if stop is None:
            start, stop = 0, start
        return start + int(self.random() * (stop - start))

    def choice(self, seq):
        return seq[int(self.random() * len(seq))]


def b91_pair(v):
    return chr(33 + v // 91) + chr(33 + v % 91)


def _b91_value(rng):
    # no '!' anywhere in the payload: v >= 92 keeps the first char off '!',
    # v % 91 != 0 the second; a '!' followed by a letter would be read as a
    # DAO extension before the telemetry and change the parse
    v = 92 + int(rng.random() * 8189)
    return v + 1 if v % 91 == 0 else v


def _lat(rng):
    r = rng.random
    return "%02d%02d.%02d%s" % (r() * 90, r() * 60, r() * 100, "NS"[r() < 0.5])


def _lon(rng):
    r = rng.random
    return "%03d%02d.%02d%s" % (r() * 180, r() * 60, r() * 100, "EW"[r() < 0.5])


class Feed:
    """A seeded stream of frames over `stations` callsigns. Each batch method
    returns (wire lines without CRLF, [(id, format, raw, analogs or None)])
    for the frames that emit a line."""

    def __init__(self, seed, stations, known_defects=False):
        self.rng = _Random(seed)
        self.calls = ["K%05d" % i for i in range(stations)]
        self.cal = {}            # call -> 5 (a, b, c) triples, last EQNS sent
        self.next_id = 0
        names, weights = zip(*(MIX + KNOWN_DEFECTS if known_defects else MIX))
        self._names, self._cum = names, []
        acc = 0
        for w in weights:
            acc += w
            self._cum.append(acc)

    # ------------------------------------------------------------ helpers
    def _id(self):
        self.next_id += 1
        return "%s%09d" % (ID_PREFIX, self.next_id)

    def _expect(self, out, fmt, frame, ident, analogs=None):
        out.append(frame)
        self.expected_batch.append((ident, fmt, frame, analogs))

    def _telemetry(self, call, channels=5, digital=True):
        rng = self.rng
        raw_vals = [_b91_value(rng) for _ in range(channels)]
        payload = b91_pair(_b91_value(rng)) + "".join(b91_pair(v) for v in raw_vals)
        if digital:
            payload += b91_pair(rng.randrange(92, 256) if rng.random() < 0.5 else 200)
        triples = self.cal.get(call)
        analogs = []
        for i, x in enumerate(raw_vals):
            a, b, c = triples[i] if triples else (0.0, 1.0, 0.0)
            x = float(x)
            analogs.append(a * x ** 2 + b * x + c)
        return "|" + payload + "|", analogs

    def _eqns(self, call):
        rng = self.rng
        texts = [rng.choice(COEFFS) for _ in range(15)]
        self.cal[call] = [tuple(float(t) for t in texts[i:i + 3]) for i in range(0, 15, 3)]
        return "%s>APRS::%-9s:EQNS.%s" % (call, call, ",".join(texts))

    # ----------------------------------------------------------- one frame
    def frame(self, out, kind, call):
        rng = self.rng
        if kind == "uncompressed":
            i = self._id()
            v = rng.randrange(5)
            if v == 0:
                f = "%s>APRS,WIDE1-1,WIDE2-2:!%s/%s-%s hi" % (call, _lat(rng), _lon(rng), i)
            elif v == 1:
                f = "%s>APRS:=%s/%s>%03d/%03d%s" % (call, _lat(rng), _lon(rng),
                                                     rng.randrange(360), rng.randrange(200), i)
            elif v == 2:
                f = "%s>APRS:!%s/%s-PHG5132/A=%06d%s" % (call, _lat(rng), _lon(rng),
                                                         rng.randrange(20000), i)
            elif v == 3:
                f = "%s>APRS:!%s/%s-hello !W36! %s" % (call, _lat(rng), _lon(rng), i)
            else:
                f = "%s>APRS,TCPIP*:@%02d%02d%02dz%s/%s-%s" % (
                    call, rng.randrange(1, 29), rng.randrange(24), rng.randrange(60),
                    _lat(rng), _lon(rng), i)
            self._expect(out, "uncompressed", f, i)
        elif kind == "telemetry_pos":
            i = self._id()
            tele, analogs = self._telemetry(call)
            f = "%s>APRS:!%s/%s-before%safter %s" % (call, _lat(rng), _lon(rng), tele, i)
            self._expect(out, "uncompressed", f, i, analogs)
        elif kind == "telemetry_short":
            i = self._id()
            tele, analogs = self._telemetry(call, rng.randrange(1, 6), digital=False)
            f = "%s>APRS:!%s/%s-before%safter %s" % (call, _lat(rng), _lon(rng), tele, i)
            self._expect(out, "uncompressed", f, i, analogs)
        elif kind == "wx_pos":
            i = self._id()
            f = "%s>APRS:!%s/%s_%03d/%03dg%03dt%03dr000p000P000h50b%05dwRSW %s" % (
                call, _lat(rng), _lon(rng), rng.randrange(360), rng.randrange(50),
                rng.randrange(80), rng.randrange(110), rng.randrange(9500, 10400), i)
            self._expect(out, "uncompressed", f, i)
        elif kind == "compressed":
            i = self._id()
            f = "%s>APRS:!/5L!!<*e7>7P[%s" % (call, i)
            self._expect(out, "compressed", f, i)
        elif kind == "compressed_wx":
            i = self._id()
            f = "%s>APRS:!/5L!!<*e7_7P[g%03dt%03d %s" % (call, rng.randrange(80),
                                                       rng.randrange(110), i)
            self._expect(out, "compressed", f, i)
        elif kind == "mic-e":
            i = self._id()
            dest = rng.choice(["S32UVT", "T7SYWX"])
            f = "%s>%s:`(_fn\"Oj/]%s" % (call, dest, i)
            self._expect(out, "mic-e", f, i)
        elif kind == "object":
            i = self._id()
            f = "%s>APRS:;%-9s*%02d%02d%02dz%s/%s-147.09MHz %s" % (
                call, "RPT" + call[-5:], rng.randrange(1, 29), rng.randrange(24),
                rng.randrange(60), _lat(rng), _lon(rng), i)
            self._expect(out, "object", f, i)
        elif kind == "status":
            i = self._id()
            if rng.random() < 0.5:
                f = "%s>APRS,TCPIP*:>092345zNet tonight %s" % (call, i)
            else:
                f = "%s>APRS:>Monitoring 146.52 %s" % (call, i)
            self._expect(out, "status", f, i)
        elif kind == "wx":
            i = self._id()
            f = "%s>APRS:_10090233c%03ds%03dg%03dt%03dr000p000P000h50b09900%s" % (
                call, rng.randrange(360), rng.randrange(50), rng.randrange(80),
                rng.randrange(110), i)
            self._expect(out, "wx", f, i)
        elif kind == "beacon":
            i = self._id()
            f = "%s>BEACON:Mt Beacon digi %s" % (call, i)
            self._expect(out, "beacon", f, i)
        elif kind == "bulletin":
            i = self._id()
            f = "%s>APRS::BLN%d     :Net tonight 8pm %s" % (call, rng.randrange(10), i)
            self._expect(out, "bulletin", f, i)
        elif kind == "message":
            i = self._id()
            f = "%s>APRS::%-9s:hello there %s{%d" % (call, rng.choice(self.calls),
                                                     i, rng.randrange(1, 99999))
            self._expect(out, "message", f, i)
        elif kind == "eqns":
            out.append(self._eqns(call))
        elif kind == "parm":
            out.append("%s>APRS::%-9s:PARM.Vbat,Temp,Rx,Tx,Pwr" % (call, call))
        elif kind == "t_hash":
            out.append("%s>APRS:T#%03d,%03d,%03d,%03d,%03d,%03d,%s" % (
                call, rng.randrange(1000), rng.randrange(256), rng.randrange(256),
                rng.randrange(256), rng.randrange(256), rng.randrange(256),
                "".join(rng.choice("01") for _ in range(8))))
        elif kind == "malformed":
            v = rng.randrange(4)
            out.append(["%s>APRS:!49%d" % (call, rng.randrange(10)),
                        "%s>APRS:" % call,
                        "%s>APRS::%-9s:EQNS.1,2,3,4" % (call, call),
                        "%sAPRS:!4903.50N/07201.75W-" % call][v])
        else:
            raise ValueError(kind)

    def _kind(self):
        x = self.rng.randrange(self._cum[-1])
        for name, c in zip(self._names, self._cum):
            if x < c:
                return name

    # -------------------------------------------------------------- batches
    def mix(self, n):
        """`n` non-comment frames of the mix over all stations, with
        a `#` server comment every COMMENT_EVERY frames; the last frame is a
        beacon, whose line marks the end of the batch. Returns
        (wire_lines, expected) where expected lists (id, fmt, raw, analogs)."""
        out, self.expected_batch = [], []
        calls, rng = self.calls, self.rng
        for k in range(n):
            if k % COMMENT_EVERY == COMMENT_EVERY - 1:
                out.append("# aprsc 2.1.14-g5e22b37 17 Oct 2026 12:00:00 GMT BENCH 127.0.0.1:14580")
            kind = "beacon" if k == n - 1 else self._kind()
            self.frame(out, kind, calls[rng.randrange(len(calls))])
        return out, self.expected_batch

    def probe(self):
        """One beacon: times daemon start-up, leads each measured backlog
        of backlog_drain, and fences the last batch."""
        out, self.expected_batch = [], []
        self.frame(out, "beacon", self.calls[0])
        return out, self.expected_batch


def frame_count(lines):
    """Frames the source counts: every line but `#` server comments."""
    return sum(1 for f in lines if not f.startswith("#"))
