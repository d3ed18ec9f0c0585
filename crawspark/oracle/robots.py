"""From-scratch robots.txt parsing + allow/disallow decisions (RFC 9309).

The reference is a polite crawler: before a URL enters the frontier it
must clear the host's robots rules [R: crawtext fetch loop politeness;
url.py host handling]. Implemented from the public spec on stdlib only:

- user-agent groups (consecutive ``User-agent`` lines share the
  following rule block); group selection = longest user-agent token that
  is a case-insensitive substring match, ``*`` as fallback;
- ``Allow`` / ``Disallow`` path rules with ``*`` wildcards and ``$``
  end-anchor; decision = longest-match wins (RFC 9309 §2.2.2), with
  Allow winning length ties; empty Disallow = allow all;
- ``Crawl-delay`` (non-standard but ubiquitous) surfaced per group.

Decisions are pure functions of (robots_text, user_agent, path) —
Spark broadcasts the parsed per-host rules and maps frontier URLs
through the same code the oracle replays.
"""

from __future__ import annotations

import re


def synth_robots_txt(host: str) -> str:
    """The robots.txt a simulated ``host`` serves: a deterministic grid
    on ``len(host) % 3`` that the DuckDB oracles restate in closed form.
    0 → everything disallowed; 1 → ``/d…`` disallowed unless ``/d1…``
    (longest match), behind a comment line and a decoy googlebot group;
    2 → a crawspark group with an empty Disallow and Crawl-delay 2."""
    m = len(host) % 3
    if m == 0:
        return "User-agent: *\nDisallow: /\n"
    if m == 1:
        return ("# tag pages are fine\nUser-agent: googlebot\n"
                "Disallow: /\n\nUser-agent: *\nDisallow: /d\n"
                "Allow: /d1\n")
    return ("User-agent: crawspark\nCrawl-delay: 2\nDisallow:\n\n"
            "User-agent: *\nDisallow: /\n")


def parse_robots(text: str, user_agent: str = "crawspark") -> dict:
    """Parse robots.txt and select the rule group for ``user_agent``.
    Returns {"rules": [(allow: bool, pattern: str)], "crawl_delay":
    float | None}. Never raises on garbage."""
    groups: list[dict] = []
    current: dict | None = None
    last_was_agent = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if current is None or not last_was_agent:
                current = {"agents": [], "rules": [], "crawl_delay": None}
                groups.append(current)
            current["agents"].append(value.lower())
            last_was_agent = True
            continue
        last_was_agent = False
        if current is None:
            continue  # rules before any User-agent line are ignored
        if field in ("allow", "disallow"):
            current["rules"].append((field == "allow", value))
        elif field == "crawl-delay":
            try:
                current["crawl_delay"] = float(value)
            except ValueError:
                pass
    ua = user_agent.lower()
    best = None
    best_len = -1
    for g in groups:
        for agent in g["agents"]:
            if agent == "*":
                if best_len < 0:
                    best = g
            elif agent in ua and len(agent) > best_len:
                best = g
                best_len = len(agent)
    if best is None:
        return {"rules": [], "crawl_delay": None}
    return {"rules": best["rules"], "crawl_delay": best["crawl_delay"]}


def _rule_regex(pattern: str) -> re.Pattern:
    parts = []
    for ch in pattern:
        if ch == "*":
            parts.append(".*")
        elif ch == "$":
            parts.append("$")
        else:
            parts.append(re.escape(ch))
    return re.compile("^" + "".join(parts))


def _match_len(pattern: str, path: str) -> int | None:
    """Length of the rule pattern if it matches ``path`` (specificity =
    pattern length per RFC 9309), else None. Empty pattern matches
    everything with specificity 0 (an empty Disallow allows all because
    any real rule outranks it and Allow wins the 0-0 tie)."""
    if _rule_regex(pattern).search(path) is not None:
        return len(pattern)
    return None


def robots_allowed(rules: list[tuple[bool, str]], path: str) -> bool:
    """Longest-match decision over the selected group's rules; Allow wins
    ties; no matching rule = allowed."""
    best_allow = True
    best_len = -1
    for allow, pattern in rules:
        if not pattern:
            # empty pattern matches everything at specificity 0; an empty
            # Disallow means "allow all" (RFC 9309 §2.2.2)
            allow = True
            length = 0
        else:
            m = _match_len(pattern, path)
            if m is None:
                continue
            length = m
        if length > best_len or (length == best_len and allow
                                 and not best_allow):
            best_allow = allow
            best_len = length
    return best_allow


def extract_sitemaps(text: str) -> list[str]:
    """``Sitemap:`` directives (sitemaps.org cross-submission via
    robots.txt). Per the protocol the record is GLOBAL — independent of
    any User-agent group, so every line is collected wherever it
    appears. Values must be absolute http(s) URLs (the spec requires a
    full URL; relative values are ignored); order kept, first
    occurrence wins on duplicates. Never raises on garbage."""
    out: list[str] = []
    seen = set()
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        field, _, value = line.partition(":")
        if field.strip().lower() != "sitemap":
            continue
        value = value.strip()
        if not re.match(r"(?i)^https?://", value):
            continue
        if value not in seen:
            seen.add(value)
            out.append(value)
    return out
