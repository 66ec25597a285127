"""robots.txt gate (robots.py), the one RFC 9309 implementation: parse
and match semantics (group selection, longest-match precedence,
wildcard/anchor patterns, empty Disallow, tie→Allow) and the Spark
host-join filter + metadata table."""

import pytest

from pypdfocr_spark import robots

RFC_BODY = """\
# comment line
User-agent: googlebot-news
Disallow: /news-internal/

User-agent: *
Disallow: /private/
Disallow: /*.gif$
Allow: /private/public-page.html
Disallow: /tie
Allow: /tie

User-agent: crawler-x
User-agent: crawler-y
Disallow: /shared/
Crawl-delay: 2.5

Sitemap: https://ex.com/sitemap.xml
Sitemap: https://ex.com/sitemap2.xml

User-agent: crawler-x
Disallow: /extra/
"""


# a second fixture: a '*' group with a crawl delay, and a two-agent
# group with '$' anchors and '*' wildcards
ROBOTS = """\
# fixture robots.txt
User-agent: *
Disallow: /private/
Allow: /private/public*
Crawl-delay: 2

User-agent: examplebot
User-agent: otherbot
Disallow: /fish*.php$
Allow: /fish
Disallow: /tmp

Sitemap: https://example.com/sitemap.xml
Sitemap: https://example.com/sitemap2.xml
"""


def test_parse_and_match_rfc_semantics():
    r = robots.parse_robots(RFC_BODY)
    # default group
    assert robots.is_allowed(r, "somebot", "/anything") is True
    assert robots.is_allowed(r, "somebot", "/private/x") is False
    # longest match wins: the Allow is longer than Disallow: /private/
    assert robots.is_allowed(r, "somebot", "/private/public-page.html")
    # wildcard + anchor
    assert robots.is_allowed(r, "somebot", "/img/a.gif") is False
    assert robots.is_allowed(r, "somebot", "/img/a.gifx") is True
    # equal length tie breaks to Allow
    assert robots.is_allowed(r, "somebot", "/tie") is True
    # specific group wins over *, and does NOT inherit * rules
    assert robots.is_allowed(r, "Googlebot-News/1.0", "/news-internal/a") is False
    assert robots.is_allowed(r, "Googlebot-News/1.0", "/private/x") is True
    # adjacent user-agent lines share a group; same-agent groups merge
    assert robots.is_allowed(r, "crawler-y", "/shared/z") is False
    assert robots.is_allowed(r, "crawler-x", "/shared/z") is False
    assert robots.is_allowed(r, "crawler-x", "/extra/z") is False
    assert robots.is_allowed(r, "crawler-y", "/extra/z") is True
    # crawl-delay is per-group; sitemaps are global
    assert robots.crawl_delay(r, "crawler-y") == 2.5
    assert robots.crawl_delay(r, "somebot") is None
    assert r.sitemaps == (
        "https://ex.com/sitemap.xml", "https://ex.com/sitemap2.xml",
    )


def test_parse_tolerance_and_edge_rules():
    # empty Disallow = allow-all; malformed lines and BOM skipped;
    # rules before any user-agent line are ignored
    r = robots.parse_robots(
        "﻿Disallow: /orphan/\nUser-agent: *\nDisallow:\n"
        "not a rule line\nWeird-Field: x\nDISALLOW: /Upper/\n"
    )
    assert robots.is_allowed(r, "bot", "/orphan/a") is True
    assert robots.is_allowed(r, "bot", "/Upper/a") is False  # case-insens field
    assert robots.is_allowed(r, "bot", "/upper/a") is True   # path case kept
    # no robots groups at all -> everything allowed
    empty = robots.parse_robots("")
    assert robots.is_allowed(empty, "bot", "/x") is True
    assert robots.crawl_delay(empty, "bot") is None


def test_pattern_edge_cases():
    r = robots.parse_robots(
        "User-agent: *\nAllow: /$\nDisallow: /\nDisallow: /a*b/c\n"
    )
    assert robots.is_allowed(r, "b", "/") is True          # anchor: root only
    assert robots.is_allowed(r, "b", "/x") is False
    assert robots.is_allowed(r, "b", "/aXYZb/c") is False  # inner wildcard


def test_parse_robots_fixture_verdicts():
    """The ``ROBOTS`` fixture: group selection by longest agent-token
    match with ``*`` fallback; longest rule wins per path; ``$`` anchors
    and ``*`` wildcards; blank lines do not close a group; sitemaps are
    global."""
    r = robots.parse_robots(ROBOTS)
    star = "somecrawler/1.0"
    assert robots.crawl_delay(r, star) == 2.0
    assert robots.is_allowed(r, star, "/public/x")
    assert not robots.is_allowed(r, star, "/private/secret")
    assert robots.is_allowed(r, star, "/private/public-data")
    # examplebot and otherbot share one group, which sets no crawl delay
    for bot in ("ExampleBot/2.1", "otherbot"):
        assert robots.crawl_delay(r, bot) is None
        assert robots.is_allowed(r, bot, "/fish/tuna.html")
        assert not robots.is_allowed(r, bot, "/fishery/x.php")  # $ anchor
        assert not robots.is_allowed(r, bot, "/fish-page.php")
        assert robots.is_allowed(r, bot, "/fish.phpx")  # not at the end
        assert not robots.is_allowed(r, bot, "/tmp/x")
        assert robots.is_allowed(r, bot, "/elsewhere")
        assert robots.is_allowed(r, bot, "/private/secret")  # no '*' rules
    # 'bot' is a substring of 'examplebot', not a match for it (RFC 9309
    # §2.2.1: a group token matches within the crawler's product token)
    assert not robots.is_allowed(r, "bot", "/private/secret")
    assert robots.is_allowed(r, "bot", "/tmp/x")
    assert robots.crawl_delay(r, "bot") == 2.0
    assert r.sitemaps == (
        "https://example.com/sitemap.xml", "https://example.com/sitemap2.xml",
    )
    # allow wins an exact length tie, in either order (RFC 9309 §2.2.2)
    for body in ("Disallow: /page\nAllow: /page", "Allow: /page\nDisallow: /page"):
        tie = robots.parse_robots("User-agent: *\n" + body + "\n")
        assert robots.is_allowed(tie, "any", "/page")
    # an empty Disallow: allows everything
    allow_all = robots.parse_robots("User-agent: *\nDisallow:\n")
    assert robots.is_allowed(allow_all, "any", "/private/x")


def test_robots_filter_spark(spark):
    """The filter over the RFC fixture, a ``Disallow: /`` host and an
    empty body: hosts without a robots row, or with an empty one, are allowed
    (RFC 9309 §2.3.1.2); host and scheme match case-insensitively."""
    urls = spark.createDataFrame(
        [
            ("https://EX.com/private/x?q=1", 1),
            ("https://ex.com/private/public-page.html", 2),
            ("https://ex.com/ok.html", 3),
            ("https://norules.org/anything", 4),   # no robots row
            ("https://ex.com", 5),                 # empty path -> "/"
            ("HTTPS://ex.com/private/x", 6),       # scheme is case-insensitive
            ("Https://EX.com/private/x", 7),
            ("https://closed.example/anything", 14),
            ("https://empty.example/private/x", 15),
        ],
        "url STRING, doc_id INT",
    )
    bots = spark.createDataFrame(
        [("ex.com", RFC_BODY), ("closed.example", "User-agent: *\nDisallow: /\n"),
         ("empty.example", "")],
        "host STRING, robots_txt STRING",
    )
    out = robots.robots_filter(urls, bots, agent="somebot")
    assert set(out.columns) == {"url", "doc_id", "allowed"}
    got = {r["doc_id"]: r["allowed"] for r in out.collect()}
    assert got == {1: False, 2: True, 3: True, 4: True, 5: True, 6: False,
                   7: False, 14: False, 15: True}


def test_robots_meta_spark(spark):
    bots = spark.createDataFrame(
        [("ex.com", RFC_BODY), ("empty.org", ""), ("null.org", None)],
        "host STRING, robots_txt STRING",
    )
    got = {r["host"]: r for r in
           robots.robots_meta(bots, agent="crawler-x").collect()}
    assert got["ex.com"]["crawl_delay"] == 2.5
    assert got["ex.com"]["sitemaps"] == [
        "https://ex.com/sitemap.xml", "https://ex.com/sitemap2.xml",
    ]
    assert got["empty.org"]["crawl_delay"] is None
    assert got["empty.org"]["sitemaps"] == []
    assert got["null.org"]["crawl_delay"] is None
