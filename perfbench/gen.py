"""Seeded input generator for the IRStats2 benchmark workloads.

Everything the program reads is produced here from one integer seed:

- ``logs/YYYY-MM-DD.log.gz``: one gzipped 7-field TSV access log per day
  (timestamp, IP, user agent, referrer, service type, eprintid, docid);
- ``late/YYYY-MM-DD.log.gz``: late-arriving lines for that day, dropped
  into the watched directory together with the next day's file;
- ``eprints.jsonl`` (divisions, subjects, type, creators), ``documents.jsonl``
  and ``subjects.jsonl`` (the subject tree).

Traffic properties: Zipf eprint popularity, a few hundred distinct human
user agents, robot user agents and IPs drawn from the robot lists shipped
with the program, within-hour repeat clicks, malformed lines, exact
duplicate lines and search-engine referrers. The generator keeps the
structured record behind every line, so the correctness checks recompute
expected facts from records, not by re-running the program.

Files are written with fixed gzip headers, so the same seed gives
byte-identical files; ``ensure_inputs`` caches them per seed and spec.
"""

from __future__ import annotations

import bisect
import datetime as dt
import gzip
import hashlib
import io
import itertools
import json
import os
import random
import re
import shutil
from dataclasses import asdict, dataclass, field

HOST = "myrepo.org"
DAY_S = 86400


# Traffic mix, the same for every workload. Shares are of generated events.
START = "2024-01-01"  # first log day
HUMAN_UAS = 300
HUMAN_IPS = 20000
ROBOT_SHARE = 0.10
REPEAT_SHARE = 0.15
MALFORMED_SHARE = 0.01
DUPLICATE_SHARE = 0.01
REFERRER_SHARE = 0.30
# late lines per day, as a share of its lines; an assumption, as no
# measurement of late-arriving log lines is at hand
LATE_SHARE = 0.03
ZIPF_S = 1.1
_TRAFFIC = (START, HUMAN_UAS, HUMAN_IPS, ROBOT_SHARE, REPEAT_SHARE, MALFORMED_SHARE,
            DUPLICATE_SHARE, REFERRER_SHARE, LATE_SHARE, ZIPF_S)


@dataclass(frozen=True)
class Spec:
    """Input size, the part of the inputs that differs between workloads."""

    days: int = 60
    lines_per_day: int = 2500
    eprints: int = 5000
    # eprints are deposited over the days before the first log day; every
    # distinct deposit day is one partition of the eprint-dataset facts
    deposit_days: int = 90

    def key(self) -> str:
        blob = json.dumps([asdict(self), _TRAFFIC], sort_keys=True).encode()
        return hashlib.sha1(blob).hexdigest()[:10]


@dataclass
class Event:
    """The structured record behind one well-formed log line."""

    epoch: int
    ip: str
    ua: str
    referrer: str
    epid: int
    docid: int | None
    robot: bool
    repeat: bool = False

    @property
    def day(self) -> int:
        return int(dt.datetime.utcfromtimestamp(self.epoch).strftime("%Y%m%d"))

    def line(self) -> str:
        ts = dt.datetime.utcfromtimestamp(self.epoch).strftime("%Y-%m-%dT%H:%M:%SZ")
        service = "?fulltext=yes" if self.docid is not None else "?abstract=yes"
        docid = "" if self.docid is None else str(self.docid)
        return "\t".join(
            (ts, self.ip, self.ua, self.referrer, service, str(self.epid), docid)
        )


@dataclass
class Inputs:
    """Generated records plus the metadata tables, before serialisation."""

    spec: Spec
    seed: int
    # per day (YYYYMMDD): the lines of that day's file, in file order, each
    # paired with its Event (None for a malformed line)
    day_lines: dict[int, list[tuple[str, Event | None]]] = field(default_factory=dict)
    late_lines: dict[int, list[tuple[str, Event | None]]] = field(default_factory=dict)
    eprints: list[dict] = field(default_factory=list)
    documents: list[dict] = field(default_factory=list)
    subjects: list[dict] = field(default_factory=list)

    def day_keys(self) -> list[int]:
        return sorted(self.day_lines)


def _load_patterns(path: str) -> list[str]:
    out = []
    with open(path) as fh:
        for line in fh:
            line = "".join(line.split())
            if line and not line.startswith("#"):
                out.append(line)
    return out


def _ip_regex(prefixes: list[str]) -> re.Pattern:
    pats = []
    for p in prefixes:
        if p.count(".") < 3 and not p.endswith("."):
            p += "."
        pats.append(p.replace(".", "\\."))
    return re.compile("|".join(pats))


class RobotLists:
    """The robot UA fragments and IP prefixes shipped with the program."""

    def __init__(self, data_dir: str):
        self.ua = _load_patterns(os.path.join(data_dir, "default_robots_ua.txt"))
        self.ip = _load_patterns(os.path.join(data_dir, "default_robots_ip.txt"))
        self.ua_re = re.compile("|".join(self.ua))
        self.ip_re = _ip_regex(self.ip)

    def is_robot(self, ua: str, ip: str) -> bool:
        return bool(self.ua_re.search(ua.lower()) or self.ip_re.search(ip))


_BROWSERS = (
    "Mozilla/5.0 ({os}) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/{v}.0.{b}.0 Safari/537.36",
    "Mozilla/5.0 ({os}; rv:{v}.0) Gecko/20100101 Firefox/{v}.0",
    "Mozilla/5.0 ({os}) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/{v}.1 Safari/605.1.15",
    "Opera/9.80 ({os}) Presto/2.12.{b} Version/{v}.00",
)
_OSES = (
    "Windows NT 10.0; Win64; x64",
    "Windows NT 6.1; WOW64",
    "X11; Linux x86_64",
    "X11; Ubuntu; Linux x86_64",
    "Macintosh; Intel Mac OS X 10_15_7",
    "Linux; Android 13; Pixel 7",
)
_WORDS = (
    "open access repository citation metadata thesis climate ocean protein "
    "genome neural network quantum policy history language economics "
    "medieval archive statistics survey learning carbon energy health"
).split()
_EXTERNAL = tuple(f"http://www.site{i}.example.net/page/{i}" for i in range(40))
_DIVISIONS = tuple(f"div_{i:02d}" for i in range(12))
_TYPES = ("article", "book", "thesis", "conference_item", "book_section", "report")
_FAMILIES = (
    "SMITH JONES TAYLOR BROWN WILLIAMS WILSON JOHNSON DAVIES ROBINSON WRIGHT "
    "THOMPSON EVANS WALKER WHITE ROBERTS GREEN HALL WOOD JACKSON CLARKE"
).split()
_GIVENS = "ANNE JOHN MARIA DAVID SARAH PAUL LUCY MARK EMMA PETER".split()


def _human_pools(rng: random.Random, robots: RobotLists):
    uas, seen = [], set()
    while len(uas) < HUMAN_UAS:
        ua = rng.choice(_BROWSERS).format(
            os=rng.choice(_OSES), v=rng.randint(60, 125), b=rng.randint(1000, 6400)
        )
        if ua not in seen and not robots.ua_re.search(ua.lower()):
            seen.add(ua)
            uas.append(ua)
    ips, seen = [], set()
    while len(ips) < HUMAN_IPS:
        ip = ".".join(str(rng.randint(1, 254)) for _ in range(4))
        if ip not in seen and not robots.ip_re.search(ip):
            seen.add(ip)
            ips.append(ip)
    return uas, ips


def _robot_pools(rng: random.Random, robots: RobotLists):
    plain = [p for p in robots.ua if re.fullmatch(r"[a-z0-9]+", p)]
    uas = [f"Mozilla/5.0 (compatible; {rng.choice(plain).capitalize()}/2.1)" for _ in range(80)]
    full = [p for p in robots.ip if re.fullmatch(r"(\d+\.){2,3}", p)]
    ips = []
    for _ in range(200):
        p = rng.choice(full)
        ips.append(p + ".".join(str(rng.randint(1, 254)) for _ in range(4 - p.count("."))))
    assert all(robots.ua_re.search(u.lower()) for u in uas)
    assert all(robots.ip_re.search(i) for i in ips)
    return uas, ips


def _referrer(rng: random.Random, spec: Spec) -> str:
    if rng.random() >= REFERRER_SHARE:
        return ""
    r = rng.random()
    terms = "+".join(rng.sample(_WORDS, rng.randint(1, 3)))
    if r < 0.25:
        return f"http://www.google.com/search?q={terms}"
    if r < 0.35:
        return f"http://www.bing.com/search?q={terms}"
    if r < 0.42:
        return f"http://search.yahoo.com/search?p={terms}"
    if r < 0.55:
        return f"http://{HOST}/cgi/search/simple?q={terms}"
    if r < 0.65:
        return f"http://{HOST}/{rng.randint(1, spec.eprints)}/"
    if r < 0.72:
        return f"http://{HOST}/view/divisions/{rng.choice(_DIVISIONS)}.html"
    return rng.choice(_EXTERNAL)


def _metadata(rng: random.Random, spec: Spec):
    subjects = [{"subjectid": "ROOT", "parent": None, "can_post": False, "name": "Subjects"}]
    leaves = []
    for a in "ABCDEF":
        subjects.append({"subjectid": a, "parent": "ROOT", "can_post": True, "name": f"Area {a}"})
        for k in range(3):
            sid = f"{a}{k}"
            subjects.append({"subjectid": sid, "parent": a, "can_post": True, "name": f"Area {a} topic {k}"})
            leaves.append(sid)
    authors = [
        {"name": {"family": f, "given": g}, "id": f"{g.lower()}.{f.lower()}{i}@{HOST}"}
        for i, (f, g) in enumerate(itertools.product(_FAMILIES, _GIVENS))
    ]
    eprints, documents = [], []
    epoch0 = dt.datetime.fromisoformat(START) - dt.timedelta(days=spec.deposit_days)
    for epid in range(1, spec.eprints + 1):
        dep = epoch0 + dt.timedelta(days=rng.randrange(spec.deposit_days), seconds=rng.randrange(DAY_S))
        eprints.append(
            {
                "eprintid": epid,
                "eprint_status": "archive" if rng.random() < 0.9 else "buffer",
                "datestamp": dep.strftime("%Y-%m-%dT%H:%M:%S"),
                "lastmod": (dep + dt.timedelta(days=rng.randint(0, 300))).strftime("%Y-%m-%dT%H:%M:%S"),
                "type": rng.choice(_TYPES),
                "divisions": sorted(rng.sample(_DIVISIONS, rng.randint(1, 2))),
                "subjects": sorted(rng.sample(leaves, rng.randint(1, 2))),
                "creators": rng.sample(authors, rng.randint(1, 4)),
                "full_text_status": rng.choice(("public", "public", "restricted", "none")),
            }
        )
        for k in range(1, rng.randint(1, 2) + 1):
            documents.append(
                {
                    "docid": epid * 10 + k,
                    "eprintid": epid,
                    "format": rng.choice(("application/pdf", "text/html")),
                    "is_public": rng.random() < 0.8,
                }
            )
    return eprints, documents, subjects


def generate(seed: int, spec: Spec, robots: RobotLists) -> Inputs:
    """Build every record for ``seed``. Deterministic: no wall clock, no
    hash randomisation, one seeded RNG."""
    rng = random.Random(seed)
    out = Inputs(spec=spec, seed=seed)
    out.eprints, out.documents, out.subjects = _metadata(rng, spec)
    ndocs: dict[int, int] = {}
    for d in out.documents:
        ndocs[d["eprintid"]] = ndocs.get(d["eprintid"], 0) + 1

    human_uas, human_ips = _human_pools(rng, robots)
    robot_uas, robot_ips = _robot_pools(rng, robots)
    ranks = list(range(1, spec.eprints + 1))
    rng.shuffle(ranks)  # popularity rank -> eprintid
    cum = list(itertools.accumulate(1.0 / (r ** ZIPF_S) for r in range(1, spec.eprints + 1)))

    used: set[tuple] = set()  # (epid, docid, ip, epoch): no two events tie

    def new_event(day_start: int) -> Event:
        epid = ranks[bisect.bisect_left(cum, rng.random() * cum[-1])]
        docid = epid * 10 + rng.randint(1, ndocs[epid]) if rng.random() < 0.5 else None
        robot = rng.random() < ROBOT_SHARE
        if robot and rng.random() < 0.5:
            ua, ip = rng.choice(robot_uas), rng.choice(human_ips)
        elif robot:
            ua, ip = rng.choice(human_uas), rng.choice(robot_ips)
        else:
            ua, ip = rng.choice(human_uas), rng.choice(human_ips)
        ev = Event(day_start + rng.randrange(DAY_S), ip, ua, _referrer(rng, spec), epid, docid, robot)
        return _unique(ev)

    def _unique(ev: Event) -> Event:
        while (ev.epid, ev.docid, ev.ip, ev.epoch) in used:
            ev.epoch += 1
        used.add((ev.epid, ev.docid, ev.ip, ev.epoch))
        return ev

    start = int(dt.datetime.fromisoformat(START).replace(tzinfo=dt.timezone.utc).timestamp())
    end = start + spec.days * DAY_S
    by_day: dict[int, list[Event]] = {}
    for d in range(spec.days):
        day_start = start + d * DAY_S
        for _ in range(spec.lines_per_day):
            ev = new_event(day_start)
            by_day.setdefault(ev.day, []).append(ev)
            if rng.random() < REPEAT_SHARE:
                # a double click: same eprint, document, client and referrer
                # again within the hour (it may spill into the next day)
                rep = Event(ev.epoch + rng.randint(1, 3000), ev.ip, ev.ua, ev.referrer,
                            ev.epid, ev.docid, ev.robot, repeat=True)
                if rep.epoch < end:
                    rep = _unique(rep)
                    by_day.setdefault(rep.day, []).append(rep)

    for day in sorted(by_day):
        evs = sorted(by_day[day], key=lambda e: e.epoch)
        lines: list[tuple[str, Event | None]] = [(e.line(), e) for e in evs]
        for _ in range(int(len(evs) * DUPLICATE_SHARE)):
            i = rng.randrange(len(lines))
            lines.insert(i + 1, lines[i])  # an exact duplicate line
        for _ in range(int(len(evs) * MALFORMED_SHARE)):
            line = rng.choice(lines)[0]
            bad = rng.choice(
                (
                    line.rsplit("\t", 1)[0],  # a field missing
                    "garbage " + line[:30],
                    line.replace("T", " ", 1),  # a bad timestamp
                )
            )
            lines.insert(rng.randrange(len(lines)), (bad, None))
        out.day_lines[day] = lines
    # late slices: fresh human traffic for day d, landing with day d+1
    for d in range(spec.days - 1):
        day_start = start + d * DAY_S
        evs = []
        for _ in range(int(spec.lines_per_day * LATE_SHARE)):
            ev = new_event(day_start)
            if ev.day == int(dt.datetime.utcfromtimestamp(day_start).strftime("%Y%m%d")):
                evs.append(ev)
        evs.sort(key=lambda e: e.epoch)
        out.late_lines[evs[0].day] = [(e.line(), e) for e in evs]
    return out


def properties(inp: Inputs) -> dict:
    """The traffic properties recorded with every run."""
    lines = [x for day in inp.day_lines.values() for x in day]
    evs = [e for _, e in lines if e is not None]
    texts = [t for t, _ in lines]
    return {
        "seed": inp.seed,
        "spec": asdict(inp.spec),
        "lines": len(lines),
        "late_lines": sum(len(v) for v in inp.late_lines.values()),
        "days": len(inp.day_lines),
        "eprints": len(inp.eprints),
        "distinct_uas": len({e.ua for e in evs}),
        "robot_frac": round(sum(e.robot for e in evs) / len(evs), 4),
        "repeat_frac": round(sum(e.repeat for e in evs) / len(evs), 4),
        "malformed_frac": round(sum(e is None for _, e in lines) / len(lines), 4),
        "duplicate_frac": round((len(texts) - len(set(texts))) / len(lines), 4),
        "referrer_frac": round(sum(bool(e.referrer) for e in evs) / len(evs), 4),
        "search_referrer_frac": round(
            sum("search" in e.referrer for e in evs) / len(evs), 4
        ),
        "download_frac": round(sum(e.docid is not None for e in evs) / len(evs), 4),
    }


def _gz_bytes(lines: list[str]) -> bytes:
    buf = io.BytesIO()
    # fixed mtime and no file name in the header: byte-identical per seed
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as gz:
        gz.write(("\n".join(lines) + "\n").encode("utf-8"))
    return buf.getvalue()


def day_iso(day: int) -> str:
    s = str(day)
    return f"{s[:4]}-{s[4:6]}-{s[6:]}"


def write_inputs(inp: Inputs, root: str) -> None:
    os.makedirs(os.path.join(root, "logs"), exist_ok=True)
    os.makedirs(os.path.join(root, "late"), exist_ok=True)
    for day, lines in inp.day_lines.items():
        with open(os.path.join(root, "logs", f"{day_iso(day)}.log.gz"), "wb") as fh:
            fh.write(_gz_bytes([t for t, _ in lines]))
    for day, lines in inp.late_lines.items():
        with open(os.path.join(root, "late", f"{day_iso(day)}.log.gz"), "wb") as fh:
            fh.write(_gz_bytes([t for t, _ in lines]))
    for name, rows in (
        ("eprints", inp.eprints),
        ("documents", inp.documents),
        ("subjects", inp.subjects),
    ):
        with open(os.path.join(root, f"{name}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r, sort_keys=True) + "\n")
    with open(os.path.join(root, "properties.json"), "w") as fh:
        json.dump(properties(inp), fh, indent=1, sort_keys=True)


def ensure_inputs(cache_root: str, seed: int, spec: Spec, robots: RobotLists) -> tuple[Inputs, str]:
    """Generate the records for ``seed`` and make sure their files exist
    under ``cache_root`` (written once per seed and spec)."""
    inp = generate(seed, spec, robots)
    root = os.path.join(cache_root, f"seed{seed}-{spec.key()}")
    done = os.path.join(root, ".complete")
    if not os.path.exists(done):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write_inputs(inp, tmp)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    return inp, root
