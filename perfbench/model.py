"""Independent reference for the frontier workloads' schedules.

A numpy/pandas replay of the scheduling contract over the generated
universe, where doc d carries the url, host and site of its URL id
(gen.permutations) while its score, links and seed-list membership follow d.
Seed list: doc_id % 7 == 0 at depth 0. Per round, hosts whose robots
fetch is 403 retire their pending URLs, every other host schedules its
top ``max_per_round`` pending URLs in (depth ASC, score DESC, url ASC)
order, and each scheduled doc d discovers docs (2d+1) mod N and (3d+7)
mod N at depth + 1, kept only if never seen. The ledger is the closed form of
the synthetic robots bodies: 403 iff site_id % 12 == 7, budget
1 + site_id % 4.

It shares no code with the engine, so a schedule digest that matches it
is checked against a second implementation, for any seed.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

TLDS = np.array(["com", "org", "net", "de", "jp"])


def universe(url_of_doc: np.ndarray, host_pool: int) -> pd.DataFrame:
    """One row per doc_id with its url, host, site_id and score, as the
    generated pages derive them."""
    d = np.arange(len(url_of_doc), dtype=np.int64)
    u = np.asarray(url_of_doc, dtype=np.int64)
    hmod = u % host_pool
    site = hmod % ((host_pool * 3) // 10)
    band = u % (3 * host_pool)
    sub = np.where(band < host_pool, "www.", np.where(band < 2 * host_pool, "", "cdn."))
    scheme = np.where(u % 10 < 8, "https", "http")
    host = (
        pd.Series(sub, dtype=object)
        + "site" + pd.Series(site).astype(str)
        + "." + pd.Series(TLDS[hmod % 5], dtype=object)
    )
    url = (
        pd.Series(scheme, dtype=object) + "://" + host
        + "/page/" + pd.Series(u).astype(str) + ".html"
    )
    return pd.DataFrame(
        {"url": url, "host": host, "site_id": site, "score": (d * 37) % 100}
    )


def schedule_digest(urls, ranks) -> str:
    """sha256 of the sorted ``url<TAB>rank`` lines of one round's schedule."""
    lines = sorted(f"{u}\t{int(r)}" for u, r in zip(urls, ranks))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def replay(url_of_doc: np.ndarray, host_pool: int, n_rounds: int) -> dict:
    """Run rounds 1..n_rounds. Returns per-round schedule digests and
    scheduled counts, and the final seen-set size."""
    n_docs = len(url_of_doc)
    uni = universe(url_of_doc, host_pool)
    blocked = (uni.site_id % 12 == 7).to_numpy()
    budget = (1 + uni.site_id % 4).to_numpy()
    seen = np.zeros(n_docs, dtype=bool)
    seed_ids = np.arange(0, n_docs, 7)
    seen[seed_ids] = True
    pending = pd.DataFrame({"doc": seed_ids, "depth": 0})
    digests, n_scheduled = [], []
    for _ in range(n_rounds):
        pending = pending[~blocked[pending.doc.to_numpy()]]
        docs = pending.doc.to_numpy()
        cand = pd.DataFrame(
            {
                "doc": docs,
                "depth": pending.depth.to_numpy(),
                "host": uni.host.to_numpy()[docs],
                "neg_score": -uni.score.to_numpy()[docs],
                "url": uni.url.to_numpy()[docs],
            }
        ).sort_values(["host", "depth", "neg_score", "url"])
        cand["rank"] = cand.groupby("host", sort=False).cumcount() + 1
        sched = cand[cand["rank"].to_numpy() <= budget[cand.doc.to_numpy()]]
        digests.append(schedule_digest(sched.url, sched["rank"]))
        n_scheduled.append(len(sched))
        pending = pending[~pending.doc.isin(sched.doc)]
        d = sched.doc.to_numpy()
        kids = pd.DataFrame(
            {
                "doc": np.concatenate([(2 * d + 1) % n_docs, (3 * d + 7) % n_docs]),
                "depth": np.concatenate([sched.depth.to_numpy() + 1] * 2),
            }
        ).groupby("doc", as_index=False)["depth"].min()
        new = kids[~seen[kids.doc.to_numpy()]]
        seen[new.doc.to_numpy()] = True
        pending = pd.concat([pending, new], ignore_index=True)
    return {
        "digests": digests,
        "n_scheduled": n_scheduled,
        "n_seen": int(seen.sum()),
        "n_pending": len(pending),
    }
