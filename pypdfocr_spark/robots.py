"""robots.txt evaluation at corpus scale — the crawl-politeness gate a
web pipeline applies between the URL frontier and the fetch/extract
step (and re-applies in curation: pages fetched before a robots change
are routinely re-filtered against current rules).

Parsing and matching follow RFC 9309 (the Robots Exclusion Protocol as
standardized from the Google draft), not the pre-wildcard 1994 rules
stdlib ``urllib.robotparser`` implements:

* group selection: the group whose ``User-agent`` token is the longest
  case-insensitive match for the product token wins; ``*`` is the
  fallback group; adjacent ``User-agent`` lines share one group and
  same-agent groups merge.
* rule matching: ``Allow``/``Disallow`` path patterns support ``*``
  (any octets) and a ``$`` end anchor; among matching rules the LONGEST
  pattern wins, ties break to ``Allow`` (least-restrictive, RFC 9309
  §2.2.2); an empty ``Disallow:`` matches nothing (allow-all); no
  matching rule means allowed; a missing/unfetchable robots.txt means
  allowed (RFC 9309 §2.3.1.2 treats 404 as unrestricted).
* ``Sitemap`` (global) and ``Crawl-delay`` (per-group, de-facto
  extension) are surfaced by :func:`robots_meta`.

Scale shape: robots bodies are one small text per host; candidate URLs
are the big relation. :func:`robots_filter` joins the two on host
(broadcast-eligible — |hosts| ≪ |urls| and Catalyst/AQE picks the
strategy) and evaluates the verdict in one Arrow stage with a per-task
cache of compiled matchers, so each task parses a given host's rules
once, not once per URL. Everything upstream/downstream of that one
stage stays whole-stage codegen.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from . import webops

if TYPE_CHECKING:
    import pandas as pd


class RobotsGroup(NamedTuple):
    """Rules for one user-agent group: (allow, raw_pattern, regex)."""

    rules: "tuple[tuple[bool, str, re.Pattern], ...]"
    crawl_delay: "float | None"


class RobotsRules(NamedTuple):
    groups: "dict[str, RobotsGroup]"  # lowercased agent token -> group
    sitemaps: "tuple[str, ...]"


def _pattern_regex(pattern: str) -> "re.Pattern":
    """RFC 9309 path pattern -> anchored regex: ``*`` = any octets,
    trailing ``$`` = end-of-path anchor, everything else literal."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = [re.escape(p) for p in pattern.split("*")]
    return re.compile("^" + ".*".join(parts) + ("$" if anchored else ""))


def parse_robots(content: str) -> RobotsRules:
    """Parse a robots.txt body into per-agent rule groups. Tolerant the
    way crawlers are: unknown fields and malformed lines are skipped,
    field names are case-insensitive, ``#`` starts a comment, BOM
    stripped. Same-agent groups merge (RFC 9309 §2.2.1)."""
    groups: "dict[str, list]" = {}
    delays: "dict[str, float]" = {}
    sitemaps: "list[str]" = []
    current: "list[str]" = []
    last_was_agent = False
    for raw in content.lstrip("\ufeff").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            agent = value.lower()
            if not agent:
                continue
            if last_was_agent:
                current.append(agent)
            else:
                current = [agent]
            groups.setdefault(agent, [])
            last_was_agent = True
            continue
        last_was_agent = False
        if field == "sitemap":
            if value:
                sitemaps.append(value)
            continue
        if not current:
            continue  # rule before any user-agent line: ignored
        if field in ("allow", "disallow"):
            if field == "disallow" and not value:
                continue  # empty Disallow matches nothing
            if not value:
                continue
            rule = (field == "allow", value, _pattern_regex(value))
            for agent in current:
                groups[agent].append(rule)
        elif field == "crawl-delay":
            try:
                d = float(value)
            except ValueError:
                continue
            for agent in current:
                delays.setdefault(agent, d)
    return RobotsRules(
        groups={
            a: RobotsGroup(tuple(rs), delays.get(a))
            for a, rs in groups.items()
        },
        sitemaps=tuple(sitemaps),
    )


def _select_group(rules: RobotsRules, agent: str) -> "RobotsGroup | None":
    """Longest case-insensitive agent-token match; ``*`` as fallback."""
    agent = agent.lower()
    best = None
    best_len = -1
    for name, group in rules.groups.items():
        if name != "*" and name in agent and len(name) > best_len:
            best, best_len = group, len(name)
    if best is not None:
        return best
    return rules.groups.get("*")


def is_allowed(rules: RobotsRules, agent: str, path: str) -> bool:
    """RFC 9309 verdict for one path: longest matching pattern wins,
    ties break to Allow, no match (or no applicable group) = allowed."""
    group = _select_group(rules, agent)
    if group is None:
        return True
    if not path.startswith("/"):
        path = "/" + path
    verdict = True
    best_len = -1
    for allow, pattern, rx in group.rules:
        if rx.match(path) and (
            len(pattern) > best_len
            or (len(pattern) == best_len and allow and not verdict)
        ):
            verdict, best_len = allow, len(pattern)
    return verdict


def crawl_delay(rules: RobotsRules, agent: str) -> "float | None":
    group = _select_group(rules, agent)
    return group.crawl_delay if group else None


# the scheme is case-insensitive (RFC 3986 §3.1): ``HTTPS://h/p`` has path ``/p``
_PATH_RE = r"(?i)^[a-z][a-z0-9+.-]*://[^/]*(/.*)?$"


def robots_filter(
    urls: DataFrame,
    robots: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    host_col: str = "host",
    content_col: str = "robots_txt",
    verdict_col: str = "allowed",
) -> DataFrame:
    """Stamp every URL with its RFC 9309 verdict: join the slim
    per-host robots relation onto the URL relation (broadcast-eligible;
    hosts with no robots row are allowed per §2.3.1.2) and evaluate in
    one Arrow stage. A per-task dict caches parsed+compiled rules per
    host, so rule compilation is O(|hosts per task|), not O(|urls|).
    Returns the input columns plus a boolean ``verdict_col``."""
    # host from the CANONICAL url (lowercased, default ports dropped) so
    # the join key matches the robots relation; path from the RAW url
    # (fragment-stripped only) — canonicalization strips trailing
    # slashes and tracking params, which would flip verdicts vs what a
    # crawler matching the wire path decides
    canon = webops.canonicalize_url(F.col(url_col))
    nofrag = F.regexp_replace(F.col(url_col), "#.*", "")
    with_host = urls.withColumn("_rb_host", webops.host_of(canon)).withColumn(
        "_rb_path", F.regexp_extract(nofrag, _PATH_RE, 1)
    )  # "" on no match; the kernel falls back to "/"
    slim = robots.select(
        F.col(host_col).alias("_rb_host"),
        F.col(content_col).alias("_rb_txt"),
    )
    joined = with_host.join(slim, "_rb_host", "left")
    out_schema = StructType(
        list(joined.drop("_rb_txt").schema.fields)
        + [StructField(verdict_col, BooleanType())]
    )

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        cache: "dict[str, RobotsRules | None]" = {}
        for pdf in batches:
            verdicts = []
            for host, txt, path in zip(
                pdf["_rb_host"], pdf["_rb_txt"], pdf["_rb_path"]
            ):
                if txt is None:
                    verdicts.append(True)
                    continue
                rules = cache.get(host)
                if rules is None:
                    rules = cache[host] = parse_robots(txt)
                verdicts.append(
                    is_allowed(rules, agent, path if path else "/")
                )
            out = pdf.drop(columns=["_rb_txt"])
            out[verdict_col] = verdicts
            yield out

    return (
        joined.mapInPandas(run, out_schema)
        .drop("_rb_host", "_rb_path")
    )


def robots_meta(
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    content_col: str = "robots_txt",
) -> DataFrame:
    """Per-host crawl metadata: the agent's crawl delay and declared
    sitemap URLs — the politeness-budget and seed inputs of a frontier
    scheduler. One Arrow stage over the slim robots relation."""
    schema = (
        f"{host_col} string, crawl_delay double, sitemaps array<string>"
    )

    def run(batches: "Iterator[pd.DataFrame]") -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for host, txt in zip(pdf[host_col], pdf[content_col]):
                if txt is None:
                    rows.append((host, None, []))
                    continue
                rules = parse_robots(txt)
                rows.append(
                    (host, crawl_delay(rules, agent), list(rules.sitemaps))
                )
            yield pd.DataFrame(
                rows, columns=[host_col, "crawl_delay", "sitemaps"]
            )

    return robots.select(host_col, content_col).mapInPandas(run, schema)
