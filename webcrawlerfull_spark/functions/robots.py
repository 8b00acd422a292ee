"""robots.txt parsing as pure column expressions (north-star component:
"per-host politeness buckets with robots.txt gating" — the reference has
no robots handling, so semantics follow RFC 9309 for ``User-agent: *``
groups: ``Disallow:`` / ``Allow:`` path-prefix rules with
longest-match precedence (§2.2.2; an allow rule wins a length tie), so
a site that disallows ``/`` then allows a subtree gates correctly. An
empty Disallow value allows everything; an empty Allow value is a
no-op. Wildcard metacharacters (``*``/``$``) inside rule paths are the
RFC's MAY-level extension and are not implemented — prefixes are
literal (documented divergence).

The per-line state machine (am I inside a ``*`` section?) folds over the
line array with ``aggregate`` — native, codegen-eligible, no Python. At
crawl scale the robots table is one small row per host, broadcast-joined
against the frontier (``apply_robots``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RULES_TYPE = "array<struct<prefix:string,allow:boolean>>"


def robots_rules(robots_txt: Column) -> Column:
    """array<struct<prefix,allow>> of the path rules applying to ``*``,
    in file order.

    Grouping follows RFC 9309: CONSECUTIVE ``User-agent`` lines form one
    group header (``User-agent: *\\nUser-agent: googlebot\\nDisallow: /x``
    applies /x to ``*``), so a UA line only resets group membership when
    it STARTS a new header (the previous meaningful line was not a UA
    line). Blank lines and ``#`` comments are insignificant — they never
    split a header run. Non-group lines such as ``Sitemap:`` are
    ignored."""
    lines = F.split(robots_txt, "\n")
    init = F.struct(
        F.lit(False).alias("active"),
        F.lit(False).alias("in_ua"),  # previous meaningful line was a UA line
        F.array().cast(RULES_TYPE).alias("rules"),
    )

    def step(acc, raw):
        line = F.trim(raw)
        low = F.lower(line)
        is_ua = low.startswith("user-agent:")
        is_star = F.trim(F.substring(line, 12, 10_000)) == "*"
        is_skip = (line == "") | line.startswith("#")
        dis_value = F.trim(F.substring(line, 10, 10_000))  # after 'disallow:'
        alw_value = F.trim(F.substring(line, 7, 10_000))   # after 'allow:'
        is_dis = low.startswith("disallow:") & acc["active"] & (dis_value != "")
        is_alw = low.startswith("allow:") & acc["active"] & (alw_value != "")
        active = F.when(
            is_ua, (acc["in_ua"] & acc["active"]) | is_star
        ).otherwise(acc["active"])
        in_ua = F.when(is_ua, F.lit(True)).otherwise(
            F.when(is_skip, acc["in_ua"]).otherwise(F.lit(False))
        )
        rules = (
            F.when(
                is_dis,
                F.array_append(
                    acc["rules"],
                    F.struct(
                        dis_value.alias("prefix"), F.lit(False).alias("allow")
                    ),
                ),
            )
            .when(
                is_alw,
                F.array_append(
                    acc["rules"],
                    F.struct(
                        alw_value.alias("prefix"), F.lit(True).alias("allow")
                    ),
                ),
            )
            .otherwise(acc["rules"])
        )
        return F.struct(
            active.alias("active"), in_ua.alias("in_ua"), rules.alias("rules")
        )

    return F.aggregate(lines, init, step, lambda acc: acc["rules"])


def disallow_prefixes(robots_txt: Column) -> Column:
    """array<string> of the ``*`` group's Disallow prefixes only (the
    pre-Allow gating shape, kept for callers that only need prefix
    blocking without precedence)."""
    return F.transform(
        F.filter(robots_rules(robots_txt), lambda r: ~r["allow"]),
        lambda r: r["prefix"],
    )


def blocked_by_rules(path: Column, rules: Column) -> Column:
    """RFC 9309 §2.2.2 evaluation: among the rules whose prefix matches
    ``path``, the LONGEST match decides; an allow rule wins a length
    tie. No matching rule → allowed. Null/missing rules → allowed."""
    matched = F.filter(
        F.coalesce(rules, F.array().cast(RULES_TYPE)),
        lambda r: path.startswith(r["prefix"]),
    )
    best_allow = F.array_max(
        F.transform(
            F.filter(matched, lambda r: r["allow"]),
            lambda r: F.length(r["prefix"]),
        )
    )
    best_dis = F.array_max(
        F.transform(
            F.filter(matched, lambda r: ~r["allow"]),
            lambda r: F.length(r["prefix"]),
        )
    )
    return best_dis.isNotNull() & (
        best_allow.isNull() | (best_allow < best_dis)
    )


def parse_robots(
    df: DataFrame, host_col: str = "host", txt_col: str = "robots_txt"
) -> DataFrame:
    """(host, robots_txt) -> (host, rules, disallow_prefixes) — the
    shape ``apply_robots`` consumes (``rules`` drives the
    longest-match gate; ``disallow_prefixes`` is the legacy projection,
    kept so pre-Allow robots tables keep working)."""
    rules = robots_rules(F.col(txt_col))
    return df.select(
        F.col(host_col).alias("host"),
        rules.alias("rules"),
        F.transform(
            F.filter(rules, lambda r: ~r["allow"]), lambda r: r["prefix"]
        ).alias("disallow_prefixes"),
    )


def apply_robots(frontier: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Robots gating: drop frontier URLs blocked by their host's ``*``
    rules; the crawl driver (streaming/driver.py) applies it to every
    round's slice. A robots table with a ``rules`` column (the
    ``parse_robots`` shape) gets the ``blocked_by_rules`` longest-match
    precedence; a legacy disallow-prefix-only table falls back to
    any-prefix blocking. The reference has no robots handling —
    engine-side addition, None disables it (parity mode)."""
    if robots is None:
        return frontier
    joined = frontier.join(F.broadcast(robots), "host", "left")
    # a bare "https://host" URL has empty path but means "/" — normalize
    # so Disallow "/" blocks the seed itself
    raw_path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit(""))
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    extra = [c for c in ("rules", "disallow_prefixes") if c in robots.columns]
    if "rules" in robots.columns:
        blocked = blocked_by_rules(path, F.col("rules"))
    else:
        blocked = F.exists(
            F.coalesce(F.col("disallow_prefixes"), F.array()),
            lambda p: path.startswith(p),
        )
    return joined.where(~blocked).drop(*extra)
