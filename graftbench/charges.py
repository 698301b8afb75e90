"""Seeded dirty-charges CSV generator with its exact expected results.

Every row is built from independently drawn dirt flags, so the fate of
each row under the program's transform is known by construction. The
expectation below is an independent model of that transform (the
reference pipeline as FIXTURES.md section A1 states it), not a call into
the program:

- a row is critical when its id, company_id or status is null, empty or
  "nan" after trim+lower, its amount does not parse to a finite value
  within DECIMAL(16,2), or its created_at is not a dashed yyyy-MM-dd date;
- surviving rows keep their name unless it is null, "" or "nan"; such a
  name is filled with the first valid name of the same company_id in file
  order among surviving rows, else "unknown";
- the served companies table is the distinct (company_id, company_name)
  pairs of the surviving rows, and the served charges table is every
  surviving row.

Dirt classes covered (FIXTURES.md A1): +inf amount overflow, amounts past
DECIMAL(16,2), non-numeric and empty amounts, scientific notation that
parses, large-but-valid amounts; undashed yyyyMMdd, impossible and empty
dates; null, empty, "nan" and padded mixed-case keys; mixed-case and
garbage statuses; the `*******` company id; corrupted name variants;
null and "nan" names (first-valid fill and its "unknown" fallback); and
every one of the 31 `_critical_reason` combinations.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

HEADER = ["id", "name", "company_id", "amount", "status", "created_at",
          "paid_at"]
STATUSES = ["paid", "voided", "pending_payment", "refunded", "charged_back",
            "pre_authorized", "expired"]
STATUS_P = [0.59, 0.21, 0.17, 0.015, 0.007, 0.005, 0.003]
GARBAGE_CID = "*******"
DAY0 = dt.date(2019, 1, 1)
N_DAYS = 150

# Per-field dirt rates. Each is small so the clean tier keeps ~97% of rows.
P_BAD_ID = 0.004
P_BAD_CID = 0.004
P_BAD_AMOUNT = 0.006
P_BAD_CREATED = 0.004
P_BAD_STATUS = 0.003


@dataclass(frozen=True)
class Expected:
    original: int
    clean: int
    critical: int
    companies: int
    cents_total: int


def _hex40(rng: np.random.Generator, n: int) -> np.ndarray:
    raw = rng.integers(0, 256, size=(n, 20), dtype=np.uint8)
    return np.array([r.tobytes().hex() for r in raw], dtype=object)


def _pick(rng, n, values, p=None):
    idx = rng.choice(len(values), size=n, p=p)
    return np.array(values, dtype=object)[idx]


def generate(path: str, rows: int, seed: int, companies: int = 40
             ) -> Expected:
    """Write a dirty charges CSV of ``rows`` data rows to ``path`` and
    return the exact results the ETL must produce from it."""
    if rows < 64:
        raise ValueError("rows must be at least 64 (the 31 reason "
                         "combinations need room)")
    rng = np.random.default_rng(seed)
    n = rows

    # companies: a skewed pool plus the garbage id (always nameless)
    cids = _hex40(rng, companies)
    names = np.array([f"Company {i:03d} S.A." for i in range(companies)],
                     dtype=object)
    weights = 1.0 / np.arange(1, companies + 1)
    weights /= weights.sum()
    comp = rng.choice(companies, size=n, p=weights)
    garbage = rng.random(n) < 0.002

    # -- dirt flags ----------------------------------------------------
    bad = {
        "id": rng.random(n) < P_BAD_ID,
        "cid": rng.random(n) < P_BAD_CID,
        "amount": rng.random(n) < P_BAD_AMOUNT,
        "created": rng.random(n) < P_BAD_CREATED,
        "status": rng.random(n) < P_BAD_STATUS,
    }
    # force every reason combination at seeded positions
    combo_rows = rng.choice(n, size=31, replace=False)
    for mask, r in zip(range(1, 32), combo_rows):
        for bit, key in enumerate(("id", "cid", "amount", "created",
                                   "status")):
            bad[key][r] = bool(mask >> bit & 1)
    critical = np.zeros(n, dtype=bool)
    for m in bad.values():
        critical |= m

    # -- id --------------------------------------------------------------
    ids = _hex40(rng, n)
    padded = rng.random(n) < 0.01
    ids[padded] = np.array([f"  {s.upper()} " for s in ids[padded]],
                           dtype=object)
    ids[bad["id"]] = _pick(rng, int(bad["id"].sum()),
                           ["", "nan", " NaN ", "   "])

    # -- company_id --------------------------------------------------------
    cid_norm = np.where(garbage, GARBAGE_CID, cids[comp]).astype(object)
    cid_raw = cid_norm.copy()
    padded = (rng.random(n) < 0.01) & ~garbage
    cid_raw[padded] = np.array([f" {s.upper()}" for s in cid_raw[padded]],
                               dtype=object)
    cid_raw[bad["cid"]] = _pick(rng, int(bad["cid"].sum()),
                                ["", "nan", " ", "NAN"])

    # -- name ------------------------------------------------------------
    name = np.where(garbage, "", names[comp]).astype(object)
    r = rng.random(n)
    name[(r < 0.004) & ~garbage] = ""
    name[(r >= 0.004) & (r < 0.006) & ~garbage] = "nan"
    corrupt = (r >= 0.006) & (r < 0.0065) & ~garbage
    name[corrupt] = np.array([f"{s}0xFFFF" for s in name[corrupt]],
                             dtype=object)
    # one company that only ever appears nameless -> "unknown" fallback
    name[comp == companies - 1] = ""

    # -- amount ------------------------------------------------------------
    cents = rng.integers(300, 25001, size=n)
    big = rng.random(n) < 0.001
    cents[big] = rng.integers(10**9, 10**13, size=int(big.sum()))
    amount = np.array([f"{c // 100}.{c % 100:02d}" for c in cents],
                      dtype=object)
    sci = (rng.random(n) < 0.002) & ~big
    amount[sci] = np.array([f"{c / 100:.2f}e0" for c in cents[sci]],
                           dtype=object)
    amount[bad["amount"]] = _pick(
        rng, int(bad["amount"].sum()),
        ["3.0e213231213123", "-3.0e213231213123", "123456789012345678.00",
         "1.0e20", "abc", "", "nan"])

    # -- status ----------------------------------------------------------
    status = _pick(rng, n, STATUSES, STATUS_P)
    r = rng.random(n)
    status[r < 0.01] = np.array([s.upper() for s in status[r < 0.01]],
                                dtype=object)
    status[(r >= 0.01) & (r < 0.0105)] = "0xFFFF"
    status[(r >= 0.0105) & (r < 0.011)] = " Paid "
    status[bad["status"]] = _pick(rng, int(bad["status"].sum()),
                                  ["", "nan", "  ", "NaN"])

    # -- dates -------------------------------------------------------------
    day = rng.integers(0, N_DAYS, size=n)
    dates = [(DAY0 + dt.timedelta(days=int(d))) for d in range(N_DAYS + 1)]
    dashed = np.array([d.isoformat() for d in dates], dtype=object)
    created = dashed[day]
    n_bad = int(bad["created"].sum())
    created[bad["created"]] = np.where(
        rng.random(n_bad) < 0.5,
        np.array([d.strftime("%Y%m%d") for d in dates],
                 dtype=object)[day[bad["created"]]],
        _pick(rng, n_bad, ["", "2019-13-45", "not-a-date"]))
    paid = np.where(rng.random(n) < 0.4, "",
                    dashed[day + rng.integers(0, 2, size=n)]).astype(object)

    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(HEADER) + "\n")
        f.writelines(
            f"{a},{b},{c},{d},{e},{g},{h}\n"
            for a, b, c, d, e, g, h in zip(ids, name, cid_raw, amount,
                                           status, created, paid))

    # -- expectation -------------------------------------------------------
    keep = ~critical
    first_valid: dict[str, str] = {}
    for c, nm in zip(cid_norm[keep], name[keep]):
        if nm not in ("", "nan") and c not in first_valid:
            first_valid[c] = nm
    pairs = {(c, nm if nm not in ("", "nan")
              else first_valid.get(c, "unknown"))
             for c, nm in zip(cid_norm[keep], name[keep])}
    return Expected(original=n, clean=int(keep.sum()),
                    critical=int(critical.sum()), companies=len(pairs),
                    cents_total=int(cents[keep].sum()))
