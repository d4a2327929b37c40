"""Tests of the benchmark's own code: seeded inputs, the independent
expected firewall report, and the event-log folder.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import ipaddress
import os
import sys
from collections import Counter

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import eventlog  # noqa: E402
import inputs  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("make", [inputs.firewall, inputs.corpus])
def test_same_seed_gives_identical_inputs(tmp_path, make):
    a = make(3, str(tmp_path / "a"))
    b = make(3, str(tmp_path / "b"))
    c = make(4, str(tmp_path / "c"))
    root = lambda x: x["logs"].rsplit("/", 1)[0] if isinstance(x, dict) else x  # noqa: E731
    first, second = _tree_bytes(root(a)), _tree_bytes(root(b))
    assert first and first == second
    assert _tree_bytes(root(c)) != first


def test_generated_config_text_matches_its_structure():
    """The package's parser expands the generated text into exactly the
    tuples the generator's structured statements describe."""
    from ruleset_analysis_spark.sources.asa_config import parse_asa_config

    text, statements = inputs.make_config(np.random.default_rng(11))
    got = Counter(
        (r["acl"], r["rule_id"], r["action"], r["protocol"], r["src_net"], r["dst_net"],
         r["port_lo"], r["port_hi"])
        for r in parse_asa_config(text)
    )
    want = Counter(
        (acl, s["rule_id"], s["action"], s["proto"], str(src), str(dst), lo, hi)
        for acl, rules in statements.items()
        for s in rules
        for src in s["src"]
        for dst in s["dst"]
        for lo, hi in s["ports"]
    )
    assert got == want


def _net(*cidrs):
    return [ipaddress.ip_network(c) for c in cidrs]


# The hand-sized policy of tests/test_end_to_end.py's CONFIG, structured.
ANY = _net("0.0.0.0/0")
SRV = _net("10.0.1.5/32", "10.0.1.9/32")
HAND = {
    "OUTSIDE_IN": [
        {"rule_id": 1, "action": "permit", "proto": "tcp", "src": ANY, "dst": SRV,
         "ports": [(443, 443)]},
        {"rule_id": 2, "action": "permit", "proto": "udp", "src": ANY, "dst": SRV,
         "ports": [(53, 53)]},
        {"rule_id": 3, "action": "deny", "proto": "ip", "src": ANY, "dst": ANY,
         "ports": [(0, 65535)]},
    ],
    "RETIRED": [
        {"rule_id": 1, "action": "permit", "proto": "tcp", "src": ANY,
         "dst": _net("10.0.9.9/32"), "ports": [(8443, 8443)]},
    ],
}


def test_expected_report_on_hand_sized_config():
    hits = {
        ("OUTSIDE_IN", "tcp", "203.0.113.1", "10.0.1.5", 443): 5,
        ("OUTSIDE_IN", "tcp", "203.0.113.2", "10.0.1.9", 443): 2,
        ("OUTSIDE_IN", "udp", "203.0.113.1", "10.0.1.9", 53): 4,
        # tcp/53 is not rule 2 (udp only): falls through to deny-any
        ("OUTSIDE_IN", "tcp", "203.0.113.3", "10.0.1.9", 53): 1,
        # RETIRED's only rule is never hit; an unmatched flow is dropped
        ("RETIRED", "tcp", "203.0.113.4", "10.0.9.9", 8080): 7,
    }
    assert inputs.expected_report(HAND, hits) == [
        ["OUTSIDE_IN", 1, "permit", 7, 2, 2, "ACTIVE"],
        ["OUTSIDE_IN", 2, "permit", 4, 1, 1, "ACTIVE"],
        ["OUTSIDE_IN", 3, "deny", 1, 1, 1, "ACTIVE"],
        ["RETIRED", 1, "permit", 0, 0, 0, "UNUSED"],
    ]


def test_first_match_takes_the_lowest_rule():
    rules = [
        {"rule_id": 1, "action": "deny", "proto": "tcp", "src": _net("10.1.0.0/16"),
         "dst": ANY, "ports": [(0, 65535)]},
        {"rule_id": 2, "action": "permit", "proto": "ip", "src": ANY, "dst": ANY,
         "ports": [(0, 65535)]},
    ]
    assert inputs.first_match(rules, "tcp", "10.1.2.3", "8.8.8.8", 80)["rule_id"] == 1
    assert inputs.first_match(rules, "udp", "10.1.2.3", "8.8.8.8", 80)["rule_id"] == 2
    assert inputs.first_match(rules, "tcp", "10.2.0.1", "8.8.8.8", 80)["rule_id"] == 2


def test_fold_counts_a_recorded_event_log():
    """``tiny_eventlog.jsonl`` is a real Spark 4 event log (two tagged
    queries at sf0.001, then an untagged ``range().repartition(3)``
    count), cut down to the fields the folder reads."""
    groups = eventlog.fold(os.path.join(HERE, "tiny_eventlog.jsonl"))
    assert set(groups) == EXPECTED_GROUPS
    for group, want in EXPECTED.items():
        got = groups[group]
        for k, v in want.items():
            assert got[k] == pytest.approx(v), (group, k)
    both = eventlog.total(groups, list(EXPECTED))
    assert both["tasks"] == sum(e["tasks"] for e in EXPECTED.values())
    assert groups[None]["tasks"] == 6 and groups[None]["aqe_updates"] == 4
    for c in groups.values():
        assert c["scheduler_overhead_s"] >= 0


# Counted off the fixture: jobs, completed stages, finished tasks, AQE
# updates and summed task metrics per job group.
EXPECTED = {
    "first:tpch_q20_promo_suppliers": {
        "jobs": 12, "stages": 12, "tasks": 12, "aqe_updates": 5,
        "executor_run_s": 4.1, "shuffle_write_mb": 1006 / 2**20,
    },
    "first:udf_sql_scalar": {
        "jobs": 1, "stages": 1, "tasks": 1, "aqe_updates": 0,
        "executor_run_s": 0.175, "shuffle_write_mb": 0,
        # one stage: 302 ms from submission to completion, its one task 210 ms
        "scheduler_overhead_s": 0.092,
    },
}
EXPECTED_GROUPS = {*EXPECTED, None}  # None: the untagged range count
