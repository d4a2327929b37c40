"""Seeded benchmark inputs, generated untimed and cached per seed.

Two input families, each a pure function of the seed (the same seed
writes byte-identical files):

* ``corpus(seed, root)`` — the ten parquet tables the query registry
  reads. A TPC-H-shaped base (sf0.01 row counts and value domains) is
  drawn here, then ``scripts/fuzz_sweep.generate`` mutates it and
  regenerates ``events``, ``documents`` and ``embeddings`` with the same
  seed, so the suites run on the same kind of data the repository's
  fuzz tier grades.
* ``firewall(seed, root)`` — gzipped Cisco ASA syslog plus an ASA
  config with nested object-groups, and the usage report the pipeline
  must write, computed here in pure Python with ``ipaddress``
  first-match, independently of Spark and of the package's config
  parser.

Everything is written under ``root`` (inside the checkout) into a
temporary directory that is renamed into place when complete, so an
interrupted generation is never mistaken for a cached one.
"""

from __future__ import annotations

import gzip
import ipaddress
import json
import os
import shutil
import sys
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sf0.01 row counts (FIXTURES.md)
BASE_ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DAY_US = 24 * 3600 * 1_000_000


def _cached(final: str, build) -> str:
    """Run ``build(tmp_dir)`` once per ``final`` path; atomic by rename."""
    if os.path.isdir(final):
        return final
    tmp = final + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days, n).astype(np.int64) * DAY_US
    return pa.array(base + offs.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def write_base(seed: int, out_dir: str) -> None:
    """TPC-H-shaped base tables at sf0.01 sizes with the value domains
    of FIXTURES.md; ``events``/``documents``/``embeddings`` are stubs
    that only fix the row counts ``fuzz_sweep.generate`` regenerates."""
    rng = np.random.default_rng([seed, 1])
    n = BASE_ROWS

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"]), pa.string()),
    })
    write("supplier", {
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    n_part = n["part"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            [round(900 + (k % 1000) / 10, 1) for k in range(n_part)], pa.float64()
        ),
    })
    n_ord = n["orders"]
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord), pa.string()),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
    })
    n_li = n["lineitem"]
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), pa.float64()),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li), pa.string()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_li), pa.string()),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    })
    for name in ("events", "documents", "embeddings"):
        write(name, {"row": pa.array(np.zeros(n[name], np.int8))})


def corpus(seed: int, root: str) -> str:
    """Directory of the seed's ten-table corpus (generated on first use)."""

    def build(tmp: str) -> None:
        sys.path.insert(0, os.path.join(REPO, "scripts"))
        import fuzz_sweep

        base = os.path.join(tmp, "base")
        os.makedirs(base)
        write_base(seed, base)
        fuzz_sweep.generate(seed, tmp, base=base)
        shutil.rmtree(base)

    return _cached(os.path.join(root, f"corpus-seed{seed}"), build)


# --------------------------------------------------------------------
# firewall job inputs

ACLS = ("OUTSIDE_IN", "DMZ_IN", "INSIDE_OUT")
PORT_NAMES = {"www": 80, "https": 443, "ssh": 22, "domain": 53, "smtp": 25, "ntp": 123}
FW_LINES = 50_000
FW_FILES = 8
FW_FLOWS = 200
FW_STATEMENTS = 30  # per ACL, before the closing deny-any
NET_GROUPS, NET_MEMBERS = 12, 3
SVC_GROUPS = 6
NOISE_SHARE = 0.25


def _rand_net(rng: np.random.Generator) -> ipaddress.IPv4Network:
    prefix = int(rng.choice((32, 32, 28, 24, 16)))
    addr = (10 << 24) | int(rng.integers(0, 1 << 24))
    return ipaddress.ip_network((addr, prefix), strict=False)


def _endpoint(net: ipaddress.IPv4Network) -> str:
    if net.prefixlen == 0:
        return "any"
    if net.prefixlen == 32:
        return f"host {net.network_address}"
    return f"{net.network_address} {net.netmask}"


def make_config(rng: np.random.Generator) -> tuple[str, dict[str, list[dict]]]:
    """ASA config text and its statements, structured:
    ``{acl: [{rule_id, action, proto, src, dst, ports}]}`` with networks
    and port ranges already expanded (nested groups resolved).

    The structure is the same for every seed: group sizes, nesting, and
    which statements name which group or endpoint kind. Only addresses,
    ports, TCP or UDP, and actions are drawn. So every seed expands to
    the same number of rule tuples, which the match join's cost scales
    with."""
    lines: list[str] = []
    net_groups: dict[str, list[ipaddress.IPv4Network]] = {}
    for g in range(NET_GROUPS):
        name = f"NET_{g}"
        lines.append(f"object-group network {name}")
        members = [_rand_net(rng) for _ in range(NET_MEMBERS)]
        for net in members:
            lines.append(f" network-object {_endpoint(net)}")
        if g % 3 == 2:  # nest the group before it
            inner = f"NET_{g - 1}"
            lines.append(f" group-object {inner}")
            members = members + net_groups[inner]
        net_groups[name] = members
    svc_groups: dict[str, list[tuple[int, int]]] = {}
    for g in range(SVC_GROUPS):
        name = f"SVC_{g}"
        lines.append(f"object-group service {name} tcp-udp")
        p = int(rng.integers(1, 1024))
        lo = int(rng.integers(1024, 60000))
        hi = lo + int(rng.integers(1, 500))
        lines += [f" port-object eq {p}", f" port-object range {lo} {hi}"]
        members = [(p, p), (lo, hi)]
        if g % 2 == 1:
            inner = f"SVC_{g - 1}"
            lines.append(f" group-object {inner}")
            members = members + svc_groups[inner]
        svc_groups[name] = members

    any_net = ipaddress.ip_network("0.0.0.0/0")
    statements: dict[str, list[dict]] = {}
    for a, acl in enumerate(ACLS):
        lines.append(f"access-list {acl} remark generated policy")
        rules = []
        for rid in range(1, FW_STATEMENTS + 1):
            action = "permit" if rng.random() < 0.8 else "deny"
            proto = "ip" if rid % 4 == 3 else str(rng.choice(("tcp", "tcp", "udp")))
            toks = [f"access-list {acl} extended {action} {proto}"]
            srcs = [any_net]
            if rid % 5 == 0:
                g = f"NET_{(rid + a) % NET_GROUPS}"
                toks.append(f"object-group {g}")
                srcs = net_groups[g]
            elif rid % 5 == 1:
                srcs = [_rand_net(rng)]
                toks.append(_endpoint(srcs[0]))
            else:
                toks.append("any")
            if rid % 5 in (0, 2, 3):
                g = f"NET_{(3 * rid + a) % NET_GROUPS}"
                toks.append(f"object-group {g}")
                dsts = net_groups[g]
            else:
                dsts = [_rand_net(rng)]
                toks.append(_endpoint(dsts[0]))
            ports = [(0, 65535)]
            if proto != "ip":
                kind = rid % 10
                if kind < 3:
                    g = f"SVC_{(rid + a) % SVC_GROUPS}"
                    toks.append(f"object-group {g}")
                    ports = svc_groups[g]
                elif kind < 5:
                    name = str(rng.choice(sorted(PORT_NAMES)))
                    toks.append(f"eq {name}")
                    ports = [(PORT_NAMES[name], PORT_NAMES[name])]
                elif kind < 8:
                    p = int(rng.integers(1, 65536))
                    toks.append(f"eq {p}")
                    ports = [(p, p)]
                elif kind < 9:
                    lo = int(rng.integers(1, 60000))
                    hi = lo + int(rng.integers(1, 2000))
                    toks.append(f"range {lo} {hi}")
                    ports = [(lo, hi)]
            lines.append(" ".join(toks))
            rules.append({"rule_id": rid, "action": action, "proto": proto,
                          "src": srcs, "dst": dsts, "ports": ports})
        lines.append(f"access-list {acl} extended deny ip any any")
        rules.append({"rule_id": FW_STATEMENTS + 1, "action": "deny", "proto": "ip",
                      "src": [any_net], "dst": [any_net], "ports": [(0, 65535)]})
        statements[acl] = rules
    return "\n".join(lines) + "\n", statements


def _pick_addr(rng: np.random.Generator, nets: list[ipaddress.IPv4Network]) -> str:
    net = nets[int(rng.integers(0, len(nets)))]
    if net.prefixlen == 0:  # 'any': an outside address
        return str(ipaddress.IPv4Address((198 << 24) | (51 << 16) | int(rng.integers(0, 1 << 16))))
    off = int(rng.integers(0, net.num_addresses))
    return str(net.network_address + off)


def make_flows(rng: np.random.Generator, statements: dict) -> list[tuple]:
    """Distinct (acl, proto, src, dst, dst_port) flows, each aimed at a
    random statement (an earlier statement may still win)."""
    flows: set[tuple] = set()
    while len(flows) < FW_FLOWS:
        acl = ACLS[int(rng.integers(0, len(ACLS)))]
        rule = statements[acl][int(rng.integers(0, FW_STATEMENTS))]
        proto = rule["proto"] if rule["proto"] != "ip" else str(rng.choice(("tcp", "udp")))
        lo, hi = rule["ports"][int(rng.integers(0, len(rule["ports"])))]
        port = int(rng.integers(lo, hi + 1))
        flows.add((acl, proto, _pick_addr(rng, rule["src"]),
                   _pick_addr(rng, rule["dst"]), port))
    return sorted(flows)


def first_match(statements: list[dict], proto: str, src: str, dst: str, port: int):
    """The firewall's evaluation: the lowest-numbered matching statement."""
    s, d = ipaddress.ip_address(src), ipaddress.ip_address(dst)
    for rule in statements:
        if (
            rule["proto"] in ("ip", proto)
            and any(s in net for net in rule["src"])
            and any(d in net for net in rule["dst"])
            and any(lo <= port <= hi for lo, hi in rule["ports"])
        ):
            return rule
    return None


def expected_report(statements: dict, hits: dict[tuple, int]) -> list[list]:
    """Usage report rows ``[acl, rule_id, action, hits, n_flows,
    n_sources, status]`` for every statement, sorted by (acl, rule_id)."""
    usage: dict[tuple, list] = defaultdict(lambda: [0, 0, set()])
    for (acl, proto, src, dst, port), n in hits.items():
        rule = first_match(statements[acl], proto, src, dst, port)
        if rule is None:
            continue
        u = usage[(acl, rule["rule_id"])]
        u[0] += n
        u[1] += 1
        u[2].add(src)
    rows = []
    for acl in sorted(statements):
        for rule in statements[acl]:
            h, nf, srcs = usage.get((acl, rule["rule_id"]), (0, 0, set()))
            rows.append([acl, rule["rule_id"], rule["action"], h, nf, len(srcs),
                         "ACTIVE" if nf else "UNUSED"])
    return rows


NOISE = (
    "%ASA-6-302013: Built inbound TCP connection {n} for outside:{a}/{p} ({a}/{p}) "
    "to dmz:{b}/443 ({b}/443)",
    "%ASA-6-302014: Teardown TCP connection {n} for outside:{a}/{p} to dmz:{b}/443 "
    "duration 0:00:{s:02d} bytes {n}",
    "%ASA-4-106023: Deny udp src outside:{a}/{p} dst inside:{b}/53 by access-group "
    '"OUTSIDE_IN" [0x0, 0x0]',
    "%ASA-5-111008: User 'admin' executed the 'show access-list' command.",
)


def write_logs(rng: np.random.Generator, flows: list[tuple], out_dir: str) -> dict:
    """``FW_LINES`` syslog lines over ``FW_FILES`` gzip files; 106100 hit
    lines draw flows with Zipf-like skew. Returns hit totals per flow."""
    weights = 1.0 / np.arange(1, len(flows) + 1) ** 1.1
    order = rng.permutation(len(flows))
    noise = rng.random(FW_LINES) < NOISE_SHARE
    picks = order[rng.choice(len(flows), FW_LINES, p=weights / weights.sum())]
    counts = rng.integers(1, 6, FW_LINES)
    sports = rng.integers(1024, 65536, FW_LINES)
    hits: dict[tuple, int] = defaultdict(int)
    per_file = -(-FW_LINES // FW_FILES)
    for k in range(FW_FILES):
        out = []
        for i in range(k * per_file, min(FW_LINES, (k + 1) * per_file)):
            stamp = f"Jan {1 + i * 28 // FW_LINES:2d} 2024 {i % 86400 // 3600:02d}:" \
                    f"{i % 3600 // 60:02d}:{i % 60:02d} fw01 : "
            if noise[i]:
                a = f"198.51.{i % 256}.{i * 7 % 256}"
                out.append(stamp + NOISE[i % len(NOISE)].format(
                    n=i, a=a, p=sports[i], b=f"10.0.{i % 256}.1", s=i % 60))
                continue
            acl, proto, src, dst, port = flows[picks[i]]
            hits[flows[picks[i]]] += int(counts[i])
            out.append(
                stamp + f"%ASA-6-106100: access-list {acl} permitted {proto} "
                f"outside/{src}({sports[i]}) -> inside/{dst}({port}) "
                f"hit-cnt {counts[i]} 300-second interval [0x{i:x}, 0x0]"
            )
        path = os.path.join(out_dir, f"fw-2024-01-part{k:02d}.log.gz")
        with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, mtime=0
        ) as gz:
            gz.write(("\n".join(out) + "\n").encode())
    return hits


def firewall(seed: int, root: str) -> dict[str, str]:
    """Paths of the seed's firewall inputs: ``logs`` (dir of .gz),
    ``config`` (ASA config text) and ``expected`` (JSON report rows)."""

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 2])
        config, statements = make_config(rng)
        flows = make_flows(rng, statements)
        os.makedirs(os.path.join(tmp, "logs"))
        hits = write_logs(rng, flows, os.path.join(tmp, "logs"))
        with open(os.path.join(tmp, "asa.conf"), "w") as f:
            f.write(config)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(expected_report(statements, hits), f)

    d = _cached(os.path.join(root, f"firewall-seed{seed}"), build)
    return {
        "logs": os.path.join(d, "logs"),
        "config": os.path.join(d, "asa.conf"),
        "expected": os.path.join(d, "expected.json"),
        "lines": FW_LINES,
    }


if __name__ == "__main__":
    # python3 perfbench/inputs.py <corpus|firewall> <seed> <root>: generate
    # (or find cached) the seed's inputs; print where they are as JSON.
    kind, seed, root = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps({"corpus": corpus, "firewall": firewall}[kind](seed, root)))
