"""Seeded input generator. It is a pure function of its seed and size
arguments: the same seed gives the same bytes.

- ``campaign_events``: the reference's campaign event stream
  (kafka+clickhouse.md:92-103) as JSONEachRow wire lines in the `queue`
  schema (timestamp epoch-seconds, level, message). Campaigns are
  Zipf-skewed, event types skew toward ``delivered``. Timestamps rise in
  file order: the first ``history_files`` files span ``days`` days (the
  backlog), the rest the one following day (the live stream, stamped
  near "now", so a micro-batch touches a few day partitions whatever its
  size); a small share of events arrives out of order.
"""

from __future__ import annotations

import datetime as dt
import json
from collections import Counter
from dataclasses import dataclass

import numpy as np

EVENT_TYPES = ("delivered", "open", "click", "bounce", "unsubscribe")
EVENT_P = (0.62, 0.2, 0.1, 0.05, 0.03)
DAY_S = 86_400
T0 = 1_704_067_200  # 2024-01-01T00:00:00Z


@dataclass
class CampaignPlan:
    """Wire files in publish order plus the ground truth they imply."""

    files: list[bytes]
    events_per_file: int
    campaigns: list[str]
    day_level: list[Counter]  # per file: (yyyy-mm-dd, level) -> count
    campaign_counts: list[Counter]  # per file: campaign_id -> count
    max_ts: list[int]  # per file: newest event timestamp

    def truth(self, n_files: int) -> Counter:
        """(day, level) counts over the first ``n_files`` files."""
        out: Counter = Counter()
        for c in self.day_level[:n_files]:
            out.update(c)
        return out


def campaign_events(
    seed: int,
    n_files: int,
    events_per_file: int,
    history_files: int = 0,
    days: int = 30,
    n_campaigns: int = 40,
    late_frac: float = 0.03,
) -> CampaignPlan:
    rng = np.random.default_rng([seed, 1])
    campaigns = [
        f"{a:08x}-{b:04x}-4{c:03x}-a{d:03x}-{e:012x}"
        for a, b, c, d, e in zip(
            rng.integers(0, 2**32, n_campaigns),
            rng.integers(0, 2**16, n_campaigns),
            rng.integers(0, 2**12, n_campaigns),
            rng.integers(0, 2**12, n_campaigns),
            rng.integers(0, 2**48, n_campaigns),
        )
    ]
    zipf = 1.0 / np.arange(1, n_campaigns + 1) ** 1.1
    n = n_files * events_per_file
    # file order is time order; a late event is stamped up to two days
    # before its neighbours (the out-of-order share the MV must absorb)
    n_hist = history_files * events_per_file
    ts = np.concatenate([
        T0 + np.sort(rng.integers(0, days * DAY_S, n_hist)),
        T0 + days * DAY_S + np.sort(rng.integers(0, DAY_S, n - n_hist)),
    ])
    late = rng.random(n) < late_frac
    ts = np.where(late, np.maximum(T0, ts - rng.integers(3_600, 2 * DAY_S, n)), ts)
    level = rng.choice(len(EVENT_TYPES), n, p=EVENT_P)
    camp = rng.choice(n_campaigns, n, p=zipf / zipf.sum())
    user = rng.integers(0, 50_000, n)
    files, day_level, camp_counts, max_ts = [], [], [], []
    for f in range(n_files):
        lo, hi = f * events_per_file, (f + 1) * events_per_file
        lines, dl, cc = [], Counter(), Counter()
        for i in range(lo, hi):
            lv, cid = EVENT_TYPES[level[i]], campaigns[camp[i]]
            msg = json.dumps({"campaign_id": cid, "email": f"u{user[i]}@example.com"})
            lines.append(json.dumps({"timestamp": int(ts[i]), "level": lv, "message": msg}))
            day = dt.datetime.fromtimestamp(int(ts[i]), dt.timezone.utc).date().isoformat()
            dl[(day, lv)] += 1
            cc[cid] += 1
        files.append(("\n".join(lines) + "\n").encode())
        day_level.append(dl)
        camp_counts.append(cc)
        max_ts.append(int(ts[lo:hi].max()))
    return CampaignPlan(files, events_per_file, campaigns, day_level, camp_counts, max_ts)
