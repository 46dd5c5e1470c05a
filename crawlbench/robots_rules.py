"""Generated robots.txt bodies and a plain-Python RFC 9309 matcher.

The matcher is the benchmark's reference for the library's robots gate: it
shares no code with ``hepcrawl_spark.crawl.robots``.  Precedence follows
RFC 9309 section 2.2.2: the longest matching rule path wins and Allow wins
a tie; ``*`` matches any character sequence and a final ``$`` anchors the
end of the path.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

# One template per host, rotated by the seed.  Together they hold Allow
# rows, wildcards, end anchors, a group for another agent and an allow-all
# body, so the library takes its longest-match path.
TEMPLATES = (
    "User-agent: *\nDisallow: /p/1\nAllow: /p/12\n",
    "User-agent: *\nDisallow: /p/*3$\n",
    "User-agent: *\nDisallow: /\nAllow: /p/2\nAllow: /p/*5$\n",
    "User-agent: otherbot\nDisallow: /\n\nUser-agent: *\nDisallow: /p/4*0\n",
    "User-agent: *\nDisallow:\n",
    "User-agent: *\nAllow: /p/9\nDisallow: /p/9*1$\nDisallow: /p/7\n",
)


def robots_bodies(n_hosts: int, rotation: int) -> list[tuple[str, str]]:
    """(host, robots.txt body) for hosts ``host0 .. host{n-1}.example.org``,
    the host names ``synthesize_corpus`` generates."""
    return [
        (f"host{h}.example.org", TEMPLATES[(h + rotation) % len(TEMPLATES)])
        for h in range(n_hosts)
    ]


def rules_for(body: str, agent: str = "*") -> list[tuple[bool, str]]:
    """-> [(is_allow, path pattern)] of the groups that apply to ``agent``:
    groups naming it, else the ``*`` groups."""
    groups: list[tuple[set[str], list[tuple[bool, str]]]] = []
    in_agents = False
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, value = (s.strip() for s in line.split(":", 1))
        key = key.lower()
        if key == "user-agent":
            if not in_agents:
                groups.append((set(), []))
            groups[-1][0].add(value.lower())
            in_agents = True
            continue
        in_agents = False
        if groups and key in ("allow", "disallow") and value:
            groups[-1][1].append((key == "allow", value))
    named = [rules for agents, rules in groups if agent.lower() in agents]
    chosen = named or [rules for agents, rules in groups if "*" in agents]
    return [r for rules in chosen for r in rules]


def _pattern(rule: str) -> re.Pattern:
    anchored = rule.endswith("$")
    body = rule[:-1] if anchored else rule
    rx = ".*".join(re.escape(part) for part in body.split("*"))
    return re.compile(rx + ("$" if anchored else ""))


def is_allowed(rules: list[tuple[bool, str]], url: str) -> bool:
    path = urlsplit(url).path or "/"
    best: tuple[int, bool] | None = None
    for allow, rule in rules:
        if _pattern(rule).match(path):
            cand = (len(rule), allow)
            if best is None or cand > best:
                best = cand
    return best is None or best[1]
