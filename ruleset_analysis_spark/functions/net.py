"""Network-address expressions: IPv4/CIDR matching, JVM-side.

The reference's rule matching is fundamentally "is this hit's address
inside this rule's network" ([R-mem] expanded object-groups); here that
predicate is pure Catalyst expression algebra — whole-stage codegen, no
UDF, so a hits⋈rules join with CIDR containment stays entirely in the
JVM.

``ipv4_to_long`` owns the malformed-address contract and
``cidr_bounds`` the malformed-CIDR one (NULL either way);
``ip_in_cidr`` is ``lo <= addr <= hi`` over them. A join testing many
addresses against many networks should project each side through them
once and compare longs (``pipeline.match_flows_to_rules``).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


_IPV4_RE = r"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})$"


def ipv4_to_long(ip: Column | str) -> Column:
    """Dotted-quad string → numeric address (0..2^32-1); NULL for
    malformed input.

    Real syslog contains truncated fields ('10.0.1', '1.2..4') and the
    hit-parser's ``([\\d.]+)`` capture admits them; under Spark 4's
    ANSI default an unguarded ``element_at``/``cast`` on such a value
    ABORTS the whole job. The rlike gate makes malformed addresses
    NULL (⇒ false in any join predicate) — one dirty line must never
    kill a 100 TB job."""
    ip = F.col(ip) if isinstance(ip, str) else ip
    oct_ = F.split(ip, r"\.")
    o1 = F.element_at(oct_, 1).cast("long")
    o2 = F.element_at(oct_, 2).cast("long")
    o3 = F.element_at(oct_, 3).cast("long")
    o4 = F.element_at(oct_, 4).cast("long")
    value = o1 * 16777216 + o2 * 65536 + o3 * 256 + o4
    # '999.1.1.1' passes the \d{1,3} shape gate but is not an address;
    # an un-range-checked value >= 2^32 would spuriously match CIDRs
    # after masking (e.g. '256.0.0.1' inside '0.0.0.0/8')
    octets_valid = (o1 <= 255) & (o2 <= 255) & (o3 <= 255) & (o4 <= 255)
    return F.when(ip.rlike(_IPV4_RE) & octets_valid, value)


def cidr_bounds(cidr: Column | str) -> tuple[Column, Column]:
    """CIDR 'a.b.c.d/p' → its numeric ``(lo, hi)`` address range, both
    bounds NULL when the CIDR is malformed — so no address is ever
    ``between`` them.

    Host bits are masked off ``lo`` ('10.0.1.5/24' spans
    10.0.1.0-10.0.1.255), as the firewall reads such a statement."""
    cidr = F.col(cidr) if isinstance(cidr, str) else cidr
    parts = F.split(cidr, "/")
    # try_element_at: a CIDR missing its '/prefix' yields NULL instead
    # of an ANSI INVALID_ARRAY_INDEX abort
    net = ipv4_to_long(F.try_element_at(parts, F.lit(1)))
    # A prefix outside 0..32 names no block: '/-1' would span 2^33
    # addresses (every address matches), '/40' a fraction of one that
    # casts to 0. Gate it to NULL, honouring the malformed-input contract.
    raw_prefix = F.try_element_at(parts, F.lit(2)).try_cast("int")
    prefix = F.when(raw_prefix.between(0, 32), raw_prefix)
    # block = 2^(32-prefix); shiftleft needs a literal shift amount, but
    # pow is exact in double up to 2^32
    block = F.pow(F.lit(2.0), F.lit(32) - prefix).cast("long")
    lo = net.bitwiseAND(F.lit(4294967296) - block)
    return lo, lo + block - 1


def ip_in_cidr(ip: Column | str, cidr: Column | str) -> Column:
    """True iff dotted-quad ``ip`` is inside ``cidr`` ('a.b.c.d/p');
    NULL (never true) when either side is malformed."""
    lo, hi = cidr_bounds(cidr)
    return ipv4_to_long(ip).between(lo, hi)
