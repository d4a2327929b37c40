"""The reference's literal end-to-end job, composed from this engine's
pieces: read a directory of (gzipped) ASA syslog → parse 106100 hit
lines → parse+expand the ASA config into a rule dimension → match each
traffic flow to its first matching rule (CIDR + port + protocol
containment) → per-rule usage report with ACTIVE/UNUSED verdicts.

This is the [R-mem ``run_analysis.sh``] analog (SURVEY.md §0
provenance: reconstructed, the reference mount was empty): the
reference shell-scripted ``spark-submit analyze_ruleset.py`` over a
log glob plus the pre-converted ruleset. Here the whole job is one
lazy DataFrame composition:

* the log side never shuffles for the match — the rule dimension
  (config expansion, thousands of rows at most) is broadcast;
* flows are pre-aggregated by their 5-tuple BEFORE the containment
  join, so the (flow × rule) predicate work scales with |distinct
  flows|, not |log lines| — the decisive reduction at 100 TB of logs;
* first-match-wins (the firewall's evaluation order) is a ``min_by``
  over candidate matches, not a per-row loop;
* CIDR/port/protocol containment compares longs only: each side is
  normalized ONCE before the join — the rule dimension (a JVM
  ``LocalRelation``) projects its networks to numeric ``[lo, hi]``
  bounds (``functions.net.cidr_bounds``, folded at plan time), each
  flow converts its two addresses to longs — so the per-pair predicate
  is plain ``between`` codegen, with no string parsing and no Python
  anywhere in the plan.

Not registry-graded (needs log *files*, not the driver's parquet
tables); exercised end-to-end on real .gz fixtures in
tests/test_end_to_end.py.

CLI (the [R-mem ``run_analysis.sh``] analog — on a cluster this is the
``spark-submit`` payload)::

    python -m ruleset_analysis_spark.pipeline <log_dir> <asa_config> <out_dir>

writes the usage report as parquet partitioned by status (UNUSED rows
are the removal candidates) and prints a per-status summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.net import cidr_bounds, ipv4_to_long
from .sources.asa_config import rules_dataframe
from .sources.text_logs import parse_asa_hits, read_log_lines


def match_flows_to_rules(flows: DataFrame, rules: DataFrame) -> DataFrame:
    """First-match-wins rule attribution for aggregated flows.

    ``flows``: (acl, protocol, src_ip, dst_ip, dst_port, hit_cnt[,...]).
    ``rules``: the ``asa_config.RULE_SCHEMA`` dimension.

    A flow matches a rule when the ACL names agree, the rule's protocol
    is ``ip`` or equals the flow's, both endpoints fall inside the
    rule's networks, and the port is inside the rule's range. Among
    candidates the firewall applies the LOWEST rule_id (evaluation
    order) — expressed as ``min_by`` over the candidate set, keyed by
    the flow tuple, with the matched action carried alongside.

    Containment is tested on longs normalized once per side: the rules
    project their networks to ``s_lo/s_hi/d_lo/d_hi`` bounds (NULL for a
    malformed CIDR, which then matches nothing), and each flow's address
    becomes one long. A malformed flow address is ``coalesce``d to -1
    rather than left NULL: it still never matches (every ``lo`` >= 0),
    and the flow side stays non-nullable — a null-intolerant predicate
    on ``ipv4_to_long(src_ip)`` would make Catalyst infer an
    ``isnotnull`` filter and push it through the flow aggregate into
    the per-line scan filter, re-running the hit regex on every log
    line."""
    s_lo, s_hi = cidr_bounds("src_net")
    d_lo, d_hi = cidr_bounds("dst_net")
    r = F.broadcast(
        rules.select(
            "*", s_lo.alias("s_lo"), s_hi.alias("s_hi"), d_lo.alias("d_lo"), d_hi.alias("d_hi")
        ).alias("r")
    )
    f = flows.select(
        "*",
        F.coalesce(ipv4_to_long("src_ip"), F.lit(-1)).alias("src_addr"),
        F.coalesce(ipv4_to_long("dst_ip"), F.lit(-1)).alias("dst_addr"),
    ).alias("f")
    cond = (
        (F.col("f.acl") == F.col("r.acl"))
        & ((F.col("r.protocol") == "ip") | (F.col("r.protocol") == F.col("f.protocol")))
        & F.col("f.src_addr").between(F.col("r.s_lo"), F.col("r.s_hi"))
        & F.col("f.dst_addr").between(F.col("r.d_lo"), F.col("r.d_hi"))
        & F.col("f.dst_port").between(F.col("r.port_lo"), F.col("r.port_hi"))
    )
    flow_key = [F.col(f"f.{c}") for c in ("acl", "protocol", "src_ip", "dst_ip", "dst_port")]
    # one expanded config statement can contribute several tuples with
    # the same rule_id (object-group expansion) — min_by on rule_id
    # picks the first *statement*; ties within a statement are the same
    # rule, so (rule_id, action) pairs are unambiguous
    return (
        f.join(r, cond)
        .groupBy(*flow_key, F.col("f.hit_cnt").alias("hit_cnt"))
        .agg(
            F.min("r.rule_id").alias("rule_id"),
            F.min_by("r.action", F.col("r.rule_id")).alias("action"),
        )
    )


def run_ruleset_analysis(
    spark: SparkSession, log_path: str, config_text: str
) -> DataFrame:
    """Full pipeline: log dir/glob (.gz ok) + raw ASA config text →
    per-rule usage report ``(acl, rule_id, action, hits, n_flows,
    n_sources, status)`` covering EVERY configured rule, UNUSED rows
    included — the reference's deliverable (hit report + zero-hit
    removal candidates) in one DataFrame."""
    hits = parse_asa_hits(read_log_lines(spark, log_path))
    # pre-aggregate to distinct flows: containment-join work is then
    # O(|flows| × |rules|) regardless of raw log volume
    flows = hits.groupBy("acl", "protocol", "src_ip", "dst_ip", "dst_port").agg(
        F.sum("hit_cnt").alias("hit_cnt")
    )
    rules = rules_dataframe(spark, config_text)
    matched = match_flows_to_rules(flows, rules)
    usage = matched.groupBy("acl", "rule_id").agg(
        F.sum("hit_cnt").alias("hits"),
        F.count(F.lit(1)).alias("n_flows"),
        F.countDistinct("src_ip").alias("n_sources"),
    )
    # rule identity (one row per statement, not per expanded tuple)
    idents = rules.select("acl", "rule_id", "action").distinct()
    return (
        idents.join(usage, on=["acl", "rule_id"], how="left")
        .select(
            "acl",
            "rule_id",
            "action",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.coalesce("n_flows", F.lit(0)).alias("n_flows"),
            F.coalesce("n_sources", F.lit(0)).alias("n_sources"),
            F.when(F.col("hits").isNull(), "UNUSED").otherwise("ACTIVE").alias("status"),
        )
    )


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(
        description="Firewall ruleset usage analysis: gz/plain ASA syslog "
        "dir + ASA config file -> per-rule usage report."
    )
    ap.add_argument("log_dir", help="directory or glob of syslog files (.gz ok)")
    ap.add_argument("asa_config", help="path to the ASA config text file")
    ap.add_argument("out_dir", help="output directory (parquet, partitioned by status)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from .session import get_spark
    from .sources.sinks import write_parquet

    spark = get_spark(app_name="ruleset-analysis-pipeline", cpus=args.cpus)
    with open(args.asa_config) as f:
        config_text = f.read()
    report = run_ruleset_analysis(spark, args.log_dir, config_text)
    write_parquet(
        report, args.out_dir, partition_by=["status"],
        sort_within_partitions=["acl", "rule_id"],
    )
    # per-status summary from the written report (|rules| rows), not
    # from ``report``: aggregating that again would re-run the whole
    # job, the log parse included. The declared schema also reads back
    # an empty report (no partition directories to infer from).
    for r in (
        spark.read.schema(report.schema).parquet(args.out_dir)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("rules"), F.sum("hits").alias("hits"))
        .orderBy("status")
        .collect()
    ):
        print(f"{r['status']:>7}: {r['rules']} rules, {r['hits']} hits")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
