"""Seeded STIX bundle generator with a value-level truth model.

Every observation is one host-side event: a process (with its binary file
and that file's directory) that opened a network connection to a URL, seen
on an ``x-oca-asset`` host by a ``user-account``.  Entity values come from
pools: with probability ``share`` an entity is drawn from the pool shared by
every source (bundle file or GET episode), otherwise from the source's
private pool.  ``share`` is therefore the stated SCO-overlap property of a
workload; :func:`overlap` measures what it produced.

The truth model keeps each observation in value form (:class:`Obs`), so the
expected answer of every hunt step can be computed here, without the
program under test (the same idea as the q54-q59 oracles, which rebuild the
warehouse contents from the events rows).  Content-addressed SCOs with equal
values merge into one stored row, so SCO keys below are the value tuples
the ids are derived from.
"""

from __future__ import annotations

import copy
import ipaddress
import random
import re
import uuid
from collections import defaultdict
from dataclasses import dataclass
from datetime import datetime, timedelta

BASE = datetime(2024, 6, 1)
OBS_NS = uuid.UUID("5d1c6a52-3f0e-4a57-9d1e-2b1f6c7a8e90")
IDENTITY = {
    "type": "identity",
    "id": "identity--7f0c2d7e-5b1a-4c55-9a0e-3c2b1d4e5f60",
    "identity_class": "program",
    "name": "corebench-generator",
    "created": "2024-06-01T00:00:00.000Z",
    "modified": "2024-06-01T00:00:00.000Z",
}
EXES = [
    "cmd.exe", "powershell.exe", "svchost.exe", "explorer.exe", "chrome.exe",
    "python.exe", "bash", "sshd", "curl", "nginx", "java", "rundll32.exe",
]
DPORTS = [443, 80, 53, 22, 8080, 3389, 445]
SPORTS = [49152, 49200, 50001, 51515, 55000, 60001]
FLAGS = ["", " -enc QQBCAEMA", " --quiet", " -c whoami", " /c dir"]
# entity pool sizes per source (shared pool and each private pool alike)
POOL = {"host": 40, "dst": 160, "url": 240, "user": 50, "dir": 24}


@dataclass(frozen=True)
class Obs:
    """One observation in value form."""

    oid: str
    qid: str
    first: datetime
    last: datetime
    n: int
    host: str
    src_ip: str
    dst_ip: str
    sport: int
    dport: int
    proto: str
    url: str
    dir_path: str
    exe: str
    pid: int
    cmdline: str
    user: str

    @property
    def nt_key(self) -> tuple:
        return (self.src_ip, self.dst_ip, self.sport, self.dport, self.proto)

    @property
    def proc_key(self) -> tuple:
        # process ids derive from pid, host and last_observed
        # (identifiers._process_unique_id), so every process is its own row
        return (self.pid, self.host, _ts(self.last))


def _ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def _pool_value(kind: str, i: int, src: int | None) -> str:
    """Entity ``i`` of ``kind`` in the shared pool (src None) or in private
    pool ``src``; private values never collide with shared ones."""
    if kind == "host":
        return f"host{i}" if src is None else f"s{src}-host{i}"
    if kind == "ip":
        return f"10.0.{i // 200}.{i % 200 + 1}" if src is None else (
            f"10.{src + 1}.{i // 200}.{i % 200 + 1}")
    if kind == "dst":
        return f"198.51.{i // 200}.{i % 200 + 1}" if src is None else (
            f"100.{src + 1}.{i // 200}.{i % 200 + 1}")
    if kind == "url":
        host = f"site{i % 60}" if src is None else f"s{src}-site{i % 60}"
        return f"http://{host}.example/p{i // 60}"
    if kind == "user":
        return f"u{i}" if src is None else f"s{src}-u{i}"
    if kind == "dir":
        return f"/opt/app{i}" if src is None else f"/srv/s{src}/app{i}"
    raise ValueError(kind)


class Generator:
    """Deterministic observation source: the same seed gives the same
    observations, in the same order, with the same ids."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)
        self._count = 0

    def observations(self, n: int, qid: str, src: int | None, share: float) -> list:
        """``n`` observations tagged ``qid``; each entity comes from the
        shared pool with probability ``share``, else from pool ``src``."""
        rng = self.rng
        out = []
        for _ in range(n):
            idx = self._count
            self._count += 1

            def pick(kind):
                shared = src is None or rng.random() < share
                return rng.randrange(POOL[kind]), (None if shared else src)

            hi, hsrc = pick("host")
            di, dsrc = pick("dst")
            ui, usrc = pick("url")
            pi, psrc = pick("user")
            ri, rsrc = pick("dir")
            exe = rng.choice(EXES)
            first = BASE + timedelta(seconds=idx * 3 + self.seed % 997)
            out.append(
                Obs(
                    oid=f"observed-data--{uuid.uuid5(OBS_NS, f'{self.seed}:{idx}')}",
                    qid=qid,
                    first=first,
                    last=first + timedelta(seconds=rng.randrange(3)),
                    n=1 + rng.randrange(3),
                    host=_pool_value("host", hi, hsrc),
                    src_ip=_pool_value("ip", hi, hsrc),
                    dst_ip=_pool_value("dst", di, dsrc),
                    sport=rng.choice(SPORTS),
                    dport=rng.choice(DPORTS),
                    proto="udp" if rng.random() < 0.2 else "tcp",
                    url=_pool_value("url", ui, usrc),
                    dir_path=_pool_value("dir", ri, rsrc),
                    exe=exe,
                    pid=1000 + rng.randrange(30000),
                    cmdline=exe + rng.choice(FLAGS),
                    user=_pool_value("user", pi, psrc),
                )
            )
        return out


def to_stix20(o: Obs) -> dict:
    """STIX 2.0 observed-data with an embedded objects map."""
    return {
        "type": "observed-data",
        "id": o.oid,
        "created_by_ref": IDENTITY["id"],
        "created": "2024-06-01T00:00:00.000Z",
        "modified": "2024-06-01T00:00:00.000Z",
        "first_observed": _ts(o.first),
        "last_observed": _ts(o.last),
        "number_observed": o.n,
        "objects": {
            "0": {"type": "ipv4-addr", "value": o.src_ip},
            "1": {"type": "ipv4-addr", "value": o.dst_ip},
            "2": {
                "type": "network-traffic",
                "src_ref": "0",
                "dst_ref": "1",
                "src_port": o.sport,
                "dst_port": o.dport,
                "protocols": [o.proto],
            },
            "3": {"type": "url", "value": o.url},
            "4": {"type": "directory", "path": o.dir_path},
            "5": {"type": "file", "name": o.exe, "parent_directory_ref": "4"},
            "6": {
                "type": "process",
                "name": o.exe,
                "pid": o.pid,
                "command_line": o.cmdline,
                "binary_ref": "5",
            },
            "7": {"type": "x-oca-asset", "hostname": o.host},
            "8": {"type": "user-account", "user_id": o.user},
        },
    }


def to_stix21(o: Obs) -> list:
    """The same observation as STIX 2.1 objects, through
    ``flatten.upgrade_2021``.  The process carries an explicit
    ``x_unique_id`` so its id stays deterministic without the 2.0
    observation context."""
    from firepit_spark.flatten import upgrade_2021

    obs = to_stix20(o)
    obs["objects"]["6"]["x_unique_id"] = f"{o.pid}_{o.host}_{_ts(o.last)}"
    return upgrade_2021(obs)


def bundle(observations: list, bid: str, v21: bool = False) -> dict:
    objects = [copy.deepcopy(IDENTITY)]
    for o in observations:
        objects.extend(to_stix21(o) if v21 else [to_stix20(o)])
    return {"type": "bundle", "id": f"bundle--{bid}", "objects": objects}


def overlap(groups: list) -> float:
    """Share of each group's distinct value-keyed SCOs that also occur in
    another group, averaged over groups (the realized SCO overlap)."""
    keysets = []
    for obs in groups:
        ks = set()
        for o in obs:
            ks.update((("ip", o.src_ip), ("ip", o.dst_ip), ("url", o.url),
                       ("dir", o.dir_path), ("user", o.user), ("host", o.host)))
        keysets.append(ks)
    shares = []
    for i, ks in enumerate(keysets):
        others = set().union(*(k for j, k in enumerate(keysets) if j != i))
        shares.append(len(ks & others) / max(1, len(ks)))
    return sum(shares) / max(1, len(shares))


def value_counts_by_type(observations: list) -> dict:
    """Expected row counts of the value-keyed tables after ingesting
    ``observations`` (the types whose id does not depend on refs, so the
    2.0 and 2.1 forms agree)."""
    return {
        "ipv4-addr": len({o.src_ip for o in observations}
                         | {o.dst_ip for o in observations}),
        "url": len({o.url for o in observations}),
        "directory": len({o.dir_path for o in observations}),
        "user-account": len({o.user for o in observations}),
        "x-oca-asset": len({o.host for o in observations}),
        "observed-data": len({o.oid for o in observations}),
    }


# ---------------------------------------------------------------- patterns
#
# Each template returns (STIX pattern, predicate over the truth model).  The
# predicate follows the program's documented semantics: comparisons on other
# SCO types are dropped (compile_pattern), LIKE is SQL LIKE, MATCHES is a
# regex search, ISSUBSET is CIDR membership.


def _like(value: str, pat: str) -> bool:
    rx = "".join(".*" if c == "%" else "." if c == "_" else re.escape(c) for c in pat)
    return re.fullmatch(rx, value, re.S) is not None


def _in_net(ip: str, net: str) -> bool:
    return ipaddress.ip_address(ip) in ipaddress.ip_network(net)


def nt_pattern(rng: random.Random, pool: list):
    """Pattern over network-traffic; parameters drawn from ``pool`` so the
    view is never empty."""
    o = rng.choice(pool)
    p2 = rng.choice([p for p in DPORTS if p != o.dport])
    net = o.dst_ip.rsplit(".", 1)[0] + ".0/24"
    choices = [
        (f"[network-traffic:dst_port = {o.dport}]",
         lambda k: k[3] == o.dport),
        (f"[network-traffic:dst_port IN ({o.dport}, {p2})]",
         lambda k: k[3] in (o.dport, p2)),
        (f"[network-traffic:dst_ref.value ISSUBSET '{net}']",
         lambda k: _in_net(k[1], net)),
        (f"[network-traffic:dst_port = {o.dport} AND network-traffic:src_port = {o.sport}]",
         lambda k: k[3] == o.dport and k[2] == o.sport),
        (f"[network-traffic:dst_port = {o.dport} OR url:value = '{o.url}']",
         lambda k: k[3] == o.dport),
        (f"[network-traffic:src_ref.value = '{o.src_ip}' OR network-traffic:dst_port = {p2}]",
         lambda k: k[0] == o.src_ip or k[3] == p2),
    ]
    return rng.choice(choices)


def nt_filter_pattern(rng: random.Random):
    """Re-filter of a network-traffic view."""
    choices = [
        ("[network-traffic:src_ref.value ISSUBSET '10.0.0.0/16']",
         lambda k: _in_net(k[0], "10.0.0.0/16")),
        ("[network-traffic:protocols[*] = 'tcp']", lambda k: k[4] == "tcp"),
        (f"[network-traffic:src_port != {SPORTS[0]}]", lambda k: k[2] != SPORTS[0]),
    ]
    return rng.choice(choices)


def url_pattern(rng: random.Random, pool: list):
    o, o2 = rng.choice(pool), rng.choice(pool)
    site = o.url.split("//", 1)[1].split(".", 1)[0]
    tail = o.url.rsplit("/", 1)[1]
    choices = [
        (f"[url:value LIKE '%{site}.%']", lambda u: _like(u, f"%{site}.%")),
        (f"[url:value = '{o.url}']", lambda u: u == o.url),
        (f"[url:value MATCHES '/{tail}$']", lambda u: re.search(f"/{tail}$", u) is not None),
        (f"[url:value IN ('{o.url}', '{o2.url}')]", lambda u: u in (o.url, o2.url)),
    ]
    return rng.choice(choices)


def proc_pattern(rng: random.Random, pool: list):
    o = rng.choice(pool)
    choices = [
        (f"[process:name = '{o.exe}']", lambda p: p["name"] == o.exe),
        ("[process:name MATCHES '^(cmd|power|bash)']",
         lambda p: re.search("^(cmd|power|bash)", p["name"]) is not None),
        (f"[process:name LIKE '%.exe' AND process:pid > {o.pid - 5000}]",
         lambda p: _like(p["name"], "%.exe") and p["pid"] > o.pid - 5000),
        ("[process:command_line LIKE '%-enc%' OR process:name = 'bash']",
         lambda p: _like(p["command_line"], "%-enc%") or p["name"] == "bash"),
    ]
    return rng.choice(choices)


# ------------------------------------------------------------- truth model


class Truth:
    """Value-level model of a warehouse: which observations contain which
    SCO keys, and which query id tagged each SCO."""

    def __init__(self):
        self.by_key = defaultdict(list)  # (type, key) -> [Obs]
        self.tagged = defaultdict(set)   # (qid, type) -> {key}
        self.procs = {}                  # proc key -> props
        self.stored = set()              # value-keyed SCOs in the store

    @staticmethod
    def _values(o: Obs) -> set:
        return {("ip", o.src_ip), ("ip", o.dst_ip), ("url", o.url),
                ("dir", o.dir_path), ("user", o.user), ("host", o.host)}

    def prestored_share(self, observations: list) -> float:
        """Share of the value-keyed SCOs in ``observations`` that the store
        already holds."""
        keys = set().union(*(self._values(o) for o in observations))
        return len(keys & self.stored) / max(1, len(keys))

    def add(self, observations: list, v21: bool = False):
        """Record ingested observations.  In the 2.1 form, upgrade_2021
        derives network-traffic ids from the unresolved ``"0"``/``"1"``
        refs, so those rows never equal a 2.0 network-traffic row; they are
        keyed apart."""
        for o in observations:
            nt = ("2.1",) + o.nt_key[2:] if v21 else o.nt_key
            for t, k in (("network-traffic", nt), ("url", o.url),
                         ("process", o.proc_key)):
                self.by_key[(t, k)].append(o)
                self.tagged[(o.qid, t)].add(k)
            self.stored |= self._values(o)
            self.procs[o.proc_key] = {
                "name": o.exe, "pid": o.pid, "command_line": o.cmdline,
                "dir": o.dir_path,
            }

    def extract(self, qid: str, sco_type: str, pred) -> set:
        keys = self.tagged[(qid, sco_type)]
        if sco_type == "process":
            return {k for k in keys if pred(self.procs[k])}
        return {k for k in keys if pred(k)}

    def pairs(self, sco_type: str, keys) -> list:
        """(key, observation) rows of the view x __contains x observed-data
        join behind the observation-count family."""
        return [(k, o) for k in keys for o in self.by_key[(sco_type, k)]]

    # expected answers, one per read step -----------------------------

    @staticmethod
    def lookup_rows(keys) -> set:
        return {(k[0], k[1], k[2], k[3]) for k in keys}

    @staticmethod
    def group_auto(keys) -> set:
        return {k[1] for k in keys}

    @staticmethod
    def group_aggs(keys) -> dict:
        out = {}
        for k in keys:
            n, mx = out.get(k[1], (0, 0))
            out[k[1]] = (n + 1, max(mx, k[2]))
        return out

    def values_path(self, keys) -> list:
        return sorted(self.procs[k]["dir"] for k in keys)

    def value_counts_dport(self, keys) -> dict:
        out = defaultdict(int)
        for k, _o in self.pairs("network-traffic", keys):
            out[k[3]] += 1
        return dict(out)

    def number_observed(self, sco_type: str, keys) -> int:
        return sum(o.n for _k, o in self.pairs(sco_type, keys))

    def summary(self, sco_type: str, keys) -> dict:
        rows = self.pairs(sco_type, keys)
        return {
            "first_observed": min(o.first for _k, o in rows),
            "last_observed": max(o.last for _k, o in rows),
            "number_observed": sum(o.n for _k, o in rows),
        }

    def timestamped_names(self, keys) -> list:
        return sorted((o.first, self.procs[k]["name"])
                      for k, o in self.pairs("process", keys))
