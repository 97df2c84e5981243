"""Oracle runner — straight-line Python re-execution of the reference
semantics, used as ground truth by the equivalence tests (BASELINE.md rows
"crawl-order match" / "URL-seen-set match" / "pixel fidelity" / "caption
equality").

It mirrors the reference's sequential loop (core/orchestrator.py:543-553):
enumerate seed rows in feeder order (worksheet, then row ascending —
gsheet_feeder_db.py:53-79), apply the row predicate (:71-79), validate and
canonicalize each URL, skip already-seen, fetch, record — one URL fully
processed before the next. Politeness is modeled with the SAME wave/budget
math as the Spark engine (the reference's sequential loop is the degenerate
global-budget-1 case; SURVEY.md §2.6 O1), so "equivalence under the same
politeness budget" is a well-defined sequence equality.

No Spark, no DataFrames — pure Python over the same fixture functions, so a
bug in the engine cannot hide in shared plumbing beyond the fixture itself.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ..functions.urls import is_archivable_url, north_norm
from ..sources.fixture import frontier_seed_rows, host_policy_rows, image_record

_ID_RE = re.compile(r"/(?:p|gallery|private)/(\d+)")
_HOST_RE = re.compile(r"^[a-z]+://([^/?#]*)")


@dataclass
class OracleResult:
    # ordered (wave, sheet, row_idx, url_norm) — the crawl order
    crawl_order: list[tuple[int, str, int, str]] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)  # url_norm seen set
    # url_norm -> (image_id, caption, src_id) for archived rows
    archived: dict[str, tuple[str, str, int]] = field(default_factory=dict)
    robots_blocked: list[str] = field(default_factory=list)


def _host(url_norm: str) -> str:
    m = _HOST_RE.match(url_norm)
    h = m.group(1) if m else ""
    return re.sub(r":\d+$", "", h)


def _rule_match(rule: str, path: str) -> bool:
    """RFC 9309 §2.2.2-§2.2.3 twin of functions/robots.py rule_match_expr:
    ``*`` matches any sequence, a trailing ``$`` anchors the end, everything
    else is a literal prefix."""
    if "*" in rule or rule.endswith("$"):
        anchored = rule.endswith("$")
        body = rule[:-1] if anchored else rule
        pat = "^" + re.escape(body).replace(r"\*", ".*") + ("$" if anchored else "")
        return re.search(pat, path) is not None
    return path.startswith(rule)


def run_oracle(
    n_seed: int,
    wave_seconds: float = 60.0,
    max_waves: int = 32,
) -> OracleResult:
    policies = {p["host"]: p for p in host_policy_rows()}
    res = OracleResult()

    # feeder enumeration order + row predicate (P11)
    rows = [
        r
        for r in sorted(frontier_seed_rows(n_seed), key=lambda r: (r["sheet"], r["row_idx"]))
        if r["url"].strip() and not (r["status"] or "").strip()
    ]

    # P1 validity + canonicalization; dedup keeps first occurrence in order
    frontier = []
    staged = set()
    for r in rows:
        if not is_archivable_url(r["url"]):
            continue
        norm = north_norm(r["url"])
        if norm in staged:
            continue
        staged.add(norm)
        frontier.append((r["sheet"], r["row_idx"], r["url"], norm, _host(norm)))

    for wave in range(max_waves):
        if not frontier:
            break
        budgets: dict[str, int] = {}
        for host in {h for *_, h in frontier}:
            p = policies.get(host)
            if p is None:
                budgets[host] = 10**9
            else:
                by_delay = (
                    int(wave_seconds * 1000 // p["crawl_delay_ms"])
                    if p["crawl_delay_ms"] > 0
                    else 10**9
                )
                budgets[host] = min(p["max_tokens"], by_delay)

        admitted, deferred = [], []
        for item in frontier:  # already in (sheet, row_idx) order
            sheet, row_idx, url, norm, host = item
            p = policies.get(host)
            path = re.sub(r"^[a-z]+://[^/?#]*", "", norm).split("?")[0]
            # RFC 9309 precedence (functions/robots.py twin): longest
            # matching rule wins, Allow wins length ties
            if p:
                best_dis = max(
                    (len(x) for x in p["robots_disallow"] if _rule_match(x, path)),
                    default=-1,
                )
                best_alw = max(
                    (len(x) for x in p.get("robots_allow", []) if _rule_match(x, path)),
                    default=-1,
                )
                if best_dis > best_alw:
                    res.robots_blocked.append(norm)
                    continue
            if budgets[host] > 0:
                budgets[host] -= 1
                admitted.append(item)
            else:
                deferred.append(item)

        for sheet, row_idx, url, norm, host in admitted:
            res.crawl_order.append((wave, sheet, row_idx, norm))
            res.seen.add(norm)
            m = _ID_RE.search(norm)
            if m:
                rec = image_record(int(m.group(1)))
                res.archived[norm] = (rec["image_id"], rec["caption"], int(m.group(1)))
        frontier = deferred
    return res
