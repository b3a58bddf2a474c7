"""Pure-Python reference simulator — the replay oracle (SURVEY §5.2).

Follows the reference control flow literally, one scheduling round at a
time, and defines the **replay contract** the Spark engine must match
(same seed list + same politeness budget ⇒ identical ordered fetch log
and identical URL-seen set):

* Rotation (F-I): each round activates exactly ONE seed per site —
  ``site_seeds[round % len(site_seeds)]`` — mirroring the reference's
  one-(role,city)-per-DAG-run rotation (seek_crawler.py:68-135). One
  chain per host per round means the reference's serial DFS pagination
  order is well-defined for a batch engine too.
* Discovery (F-A): DFS pagination from the seed URL; detail links
  collected in document order with discovery key
  ``(round, seed_idx, page_idx, link_idx)`` (SURVEY §7 hard part 2).
  Search fetches consume the host's politeness budget first.
* CareerOne (S3/F-M): page-1 probe, then pages ``range(1, n_pages)``
  re-fetched (page 1 twice — faithful to career_one_crawler.py:1108-1109);
  job rows extracted directly, no detail fetch, no seen-set check.
* Dedup (F-C/F-D): candidates dedup by canonical URL keep-first, then
  set-difference against seen (seek_crawler.py:196). Seen contains only
  successfully fetched *detail* URLs (it models Postgres job_metadata).
* Politeness (F-G/F-H): per-host budget =
  ``floor(round_seconds / delay) * max_concurrency``; delay =
  robots crawl_delay override (when positive) else politeness delay
  else default.
* Robots: longest-prefix rule; disallowed candidates are dropped
  permanently (status blocked).
* Retries (F-K): a fetch attempt with no page consumes budget and
  increments attempts; dropped after ``max_attempts``.

The log records attempted fetches as dicts
``(round, phase, site, seed_idx, depth, link_idx, url, host, ok)`` in
the canonical order: search fetches (site order, then chain order),
then detail fetches ordered by (priority-slot nothing —) discovery key.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from crawlspark.politeness import DEFAULT_CONCURRENCY, DEFAULT_DELAY_S
from crawlspark.parsers.careerone import page_count, parse_careerone_page
from crawlspark.parsers.jora import extract_jora_links
from crawlspark.parsers.seek import extract_seek_links
from crawlspark.urlnorm import canonicalize, host_of, path_after_host

SITE_ORDER = ["seek", "jora", "careerone"]
MAX_ATTEMPTS = 3


def robots_decision(rules: list[dict] | None, path: str) -> bool:
    """Longest-prefix-match allow/deny; no rules → allowed."""
    if not rules:
        return True
    best_len, allowed = -1, True
    for rule in rules:
        p = rule["path_prefix"]
        if path.startswith(p) and len(p) > best_len:
            best_len, allowed = len(p), rule["allow"]
    return allowed


@dataclass
class Candidate:
    url: str
    url_canon: str
    host: str
    site: str
    searched_role: str
    searched_location: str
    discovery_key: tuple  # (round, seed_idx, depth, link_idx)
    attempts: int = 0


@dataclass
class SimState:
    seen: set = field(default_factory=set)
    frontier: list = field(default_factory=list)  # pending Candidates
    log: list = field(default_factory=list)
    extracted: list = field(default_factory=list)  # (url, site, round)


class ReferenceSimulator:
    def __init__(
        self,
        pages: dict[str, bytes],
        seeds: list[dict],
        politeness: list[dict],
        robots: list[dict],
        round_seconds: float = 600.0,
        seen0: set | None = None,
    ):
        self.pages = pages
        self.seeds_by_site = {
            s: [d for d in seeds if d["site"] == s] for s in SITE_ORDER
        }
        self.politeness = {p["host"]: p for p in politeness}
        self.robots = {r["host"]: r for r in robots}
        self.round_seconds = round_seconds
        self.state = SimState(seen=set(seen0 or set()))

    # -- budget -------------------------------------------------------------
    def capacity(self, host: str) -> int:
        pol = self.politeness.get(host, {})
        rob = self.robots.get(host, {})
        crawl_delay = rob.get("crawl_delay")
        delay = (
            crawl_delay
            if crawl_delay and crawl_delay > 0
            else pol.get("delay_s", DEFAULT_DELAY_S)
        )
        conc = pol.get("max_concurrency", DEFAULT_CONCURRENCY)
        return int(self.round_seconds / delay) * conc

    def allowed(self, url: str) -> bool:
        host = host_of(url)
        rob = self.robots.get(host)
        return robots_decision(rob["rules"] if rob else None, path_after_host(url))

    # -- one round ----------------------------------------------------------
    def run_round(self, rnd: int) -> None:
        st = self.state
        budget: dict[str, int] = {}

        def take(host: str) -> bool:
            if host not in budget:
                budget[host] = self.capacity(host)
            if budget[host] <= 0:
                return False
            budget[host] -= 1
            return True

        new_candidates: list[Candidate] = []

        # --- discovery phase: one active seed per site, DFS pagination ---
        for site in SITE_ORDER:
            site_seeds = self.seeds_by_site.get(site) or []
            if not site_seeds:
                continue
            seed = site_seeds[rnd % len(site_seeds)]
            if site == "careerone":
                self._careerone_chain(rnd, seed, take)
                continue
            extract = extract_seek_links if site == "seek" else extract_jora_links
            url, depth = seed["url"], 0
            while url is not None:
                host = host_of(url)
                if not self.allowed(url) or not take(host):
                    break
                html = self.pages.get(url)
                st.log.append(
                    dict(round=rnd, phase="search", site=site,
                         seed_idx=seed["seed_idx"], depth=depth, link_idx=-1,
                         url=url, host=host, ok=html is not None)
                )
                if html is None:
                    break
                detail_urls, next_urls = extract(html)
                for li, durl in enumerate(detail_urls):
                    new_candidates.append(
                        Candidate(
                            url=durl,
                            url_canon=canonicalize(durl),
                            host=host_of(durl),
                            site=site,
                            searched_role=seed["searched_role"],
                            searched_location=seed["searched_location"],
                            discovery_key=(rnd, seed["seed_idx"], depth, li),
                        )
                    )
                url = next_urls[0] if next_urls else None
                depth += 1

        # --- detail phase: dedup, anti-join, robots, budget-capped pop ---
        candidates = sorted(
            st.frontier + new_candidates, key=lambda c: c.discovery_key
        )
        seen_in_batch: set[str] = set()
        pending: list[Candidate] = []
        for c in candidates:
            if c.url_canon in seen_in_batch or c.url_canon in st.seen:
                continue  # F-C in-batch dedup (keep-first) + F-D seen anti-join
            seen_in_batch.add(c.url_canon)
            if not self.allowed(c.url):
                continue  # blocked permanently
            pending.append(c)

        survivors: list[Candidate] = []
        for c in pending:
            if not take(c.host):
                survivors.append(c)  # carried to next round
                continue
            html = self.pages.get(c.url)
            ok = html is not None
            st.log.append(
                dict(round=rnd, phase="detail", site=c.site,
                     seed_idx=c.discovery_key[1], depth=c.discovery_key[2],
                     link_idx=c.discovery_key[3], url=c.url, host=c.host, ok=ok)
            )
            if ok:
                st.seen.add(c.url_canon)
                st.extracted.append((c.url, c.site, rnd))
            else:
                c.attempts += 1
                if c.attempts < MAX_ATTEMPTS:
                    survivors.append(c)
        st.frontier = survivors

    def _careerone_chain(self, rnd: int, seed: dict, take) -> None:
        """Probe page 1 for the count, then fetch pages range(1, n)."""
        st = self.state
        probe_url = seed["url"]
        host = host_of(probe_url)
        if not self.allowed(probe_url) or not take(host):
            return
        probe = self.pages.get(probe_url)
        st.log.append(
            dict(round=rnd, phase="search", site="careerone",
                 seed_idx=seed["seed_idx"], depth=0, link_idx=-1,
                 url=probe_url, host=host, ok=probe is not None)
        )
        if probe is None:
            return
        n_pages = page_count(probe)
        base = probe_url.rsplit("page=", 1)[0]
        for p in range(1, n_pages):  # faithful: page n_pages never fetched
            url = f"{base}page={p}"
            if not take(host):
                break
            html = self.pages.get(url)
            st.log.append(
                dict(round=rnd, phase="search", site="careerone",
                     seed_idx=seed["seed_idx"], depth=p, link_idx=-1,
                     url=url, host=host, ok=html is not None)
            )
            if html is None:
                continue
            for j, _job in enumerate(parse_careerone_page(html)):
                st.extracted.append((f"{url}#job{j}", "careerone", rnd))

    def run(self, n_rounds: int) -> SimState:
        for r in range(n_rounds):
            self.run_round(r)
        return self.state
