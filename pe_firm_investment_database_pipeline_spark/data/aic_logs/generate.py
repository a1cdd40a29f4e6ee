"""Seeded generator of the synthetic AIC response log that the
``seed_*`` registry entries read (``plans.seed_pipeline.LOGS_GLOB``).

The log follows the capture shape of FIXTURES.md §A1/A2: one JSON
object per line (datetime, url, status, headers, JSON), member records
inside the ``Items.$values`` envelope. Regenerate the committed files
with

    python pe_firm_investment_database_pipeline_spark/data/aic_logs/generate.py

which rewrites them byte for byte (``tests/test_seed_pipeline.py``
pins that).

Two files, 10 lines, by construction:

- ``aic_responses_2025-10-23_10-20-07.jsonl``
  1. the directory landing page: ``text/html``, no JSON payload;
  2. a ``maps.googleapis.com`` script load whose url also names the
     AIC host (the log-stats url predicate must drop it);
  3. the member-type filter options: ``$values`` elements without
     ``FullName`` (a non-member payload the shape probe drops);
  4. member page 1 (40 members);
  5. a CORRUPT line: member page 2 truncated mid-record;
  6. member page 2 (40 members);
- ``aic_responses_2025-10-23_11-20-54.jsonl``
  7. member page 4: an empty ``$values`` (past the last page);
  8. member page 3 (40 members);
  9. a CORRUPT line: a proxy error that is not JSON;
  10. member page 2 RE-DELIVERED: the same payload at a later time, so
      every same-name duplicate is full-record identical.

Every well-formed line carries a ``content-type`` header. Each member
page holds 8 ``PE`` + 2 ``private equity`` + 9 ``VC`` + 9 ``CORP`` +
6 ``NFPSF`` + 6 ``XM`` members; 8 of its 40 addresses (20%) are
outside Australia, and 2 of those belong to the PE / private equity
10. Coordinates are written as decimals. Hence:

- corrupt lines: 2;
- lines passing the shape probe: 4 (pages 1, 2, 3 and page 2 again);
- member rows after the explode: 4 x 40 = 160, of 120 distinct members;
- PE / private equity members in Australia: 4 x 8 = 32 rows;
- distinct firms after the dedup by FullName: 3 x 8 = 24;
- log-stats groups (status, is_json) over the 7 AIC-host, non-maps,
  well-formed lines: (200, true) x 6 and (200, false) x 1.
"""

from __future__ import annotations

import json
import random
from pathlib import Path

SEED = 20251023
PAGE_SIZE = 40
MEMBER_TYPES = (
    ["PE"] * 8
    + ["private equity"] * 2
    + ["VC"] * 9
    + ["CORP"] * 9
    + ["NFPSF"] * 6
    + ["XM"] * 6
)
# per page: indexes into MEMBER_TYPES whose address is outside
# Australia — one PE, one private equity and six other members
ABROAD = {0, 8, 10, 11, 19, 20, 28, 34}

API = "https://investmentcouncil.com.au/api/directory/members"
MEMBER_TYPE = "AIC.Directory.Models.MemberDirectoryItem, AIC.Directory"

_WORDS = [
    "Harbour", "Southern Cross", "Banksia", "Eucalypt", "Coral Sea",
    "Blue Gum", "Ironbark", "Kestrel", "Waratah", "Pinnacle",
    "Meridian", "Tasman", "Sandstone", "Outback", "Redgum",
    "Lighthouse", "Summit", "Riverbend", "Granite", "Wattle",
]
_KINDS = [
    "Capital", "Partners", "Equity", "Ventures",
    "Investments", "Group", "Holdings", "Advisors",
]
_AU_CITIES = [
    ("Sydney", "NSW", 2000, -33.8688, 151.2093),
    ("Melbourne", "VIC", 3000, -37.8136, 144.9631),
    ("Brisbane", "QLD", 4000, -27.4698, 153.0251),
    ("Perth", "WA", 6000, -31.9505, 115.8605),
    ("Adelaide", "SA", 5000, -34.9285, 138.6007),
]
_ABROAD_CITIES = [
    ("Auckland", "1010", "New Zealand", -36.8485, 174.7633),
    ("Singapore", "018989", "Singapore", 1.2834, 103.8607),
    ("London", "EC2V 7HN", "United Kingdom", 51.5155, -0.0922),
    ("Hong Kong", "", "Hong Kong", 22.2819, 114.1582),
]
_STREETS = ["Collins Street", "George Street", "Queen Street", "Martin Place",
            "King William Street", "St Georges Terrace", "Eagle Street"]


def _coord(rng: random.Random, base: float) -> float:
    # a Python float, so json.dumps always writes it as a decimal
    # ("151.0", never "151") and the oracle infers DOUBLE
    return round(base + rng.uniform(-0.05, 0.05), 6)


def _member(rng: random.Random, name: str, member_id: int, mtype: str,
            abroad: bool) -> dict:
    slug = "".join(ch for ch in name.lower() if ch.isalnum())
    street = f"{rng.randint(1, 400)} {rng.choice(_STREETS)}"
    if abroad:
        city, postcode, country, lat, lon = rng.choice(_ABROAD_CITIES)
        address = f"{street}\n{city} {postcode}".rstrip() + f"\n{country}"
        domain = f"{slug}.com"
        phone = f"+{rng.randint(20, 99)} {rng.randint(1000, 9999)} {rng.randint(1000, 9999)}"
    else:
        city, state, postcode, lat, lon = rng.choice(_AU_CITIES)
        address = f"Level {rng.randint(1, 50)}, {street}\n{city} {state} {postcode}\nAustralia"
        domain = f"{slug}.com.au"
        phone = f"+61 {rng.randint(2, 8)} {rng.randint(8000, 9999)} {rng.randint(1000, 9999)}"
    return {
        "$type": MEMBER_TYPE,
        "FullName": name,
        "FullName5": name,
        "Website": f"https://www.{domain}",
        # Phone and Email may be empty in the capture
        "Phone": "" if rng.random() < 0.15 else phone,
        "Email": "" if rng.random() < 0.15 else f"info@{domain}",
        "UserId": str(500000 + member_id),
        "ID": member_id,
        "Latitude": _coord(rng, lat),
        "Longitude": _coord(rng, lon),
        "Company": None,
        "Radius": None,
        "LongLatAddress": address,
        "filter-Member Type": mtype,
        "ExcludeDirectory": False,
    }


def _pages(rng: random.Random) -> list[list[dict]]:
    names = [f"{w} {k}" for w in _WORDS for k in _KINDS]
    names = rng.sample(names, 3 * PAGE_SIZE)
    pages = []
    for p in range(3):
        members = [
            _member(rng, names[p * PAGE_SIZE + i], 1000 + p * PAGE_SIZE + i,
                    mtype, i in ABROAD)
            for i, mtype in enumerate(MEMBER_TYPES)
        ]
        rng.shuffle(members)
        pages.append(members)
    return pages


def _line(ts: str, url: str, ctype: str, payload: dict | None = None) -> str:
    rec = {
        "datetime": ts,
        "url": url,
        "status": 200,
        "headers": {
            "content-type": ctype,
            "server": "Microsoft-IIS/10.0",
            "cache-control": "no-cache",
        },
    }
    if payload is not None:
        rec["JSON"] = payload
    return json.dumps(rec)


def _items(values: list) -> dict:
    return {"Items": {"$type": "System.Collections.Generic.List", "$values": values}}


def build() -> dict[str, list[str]]:
    """File name -> lines of the log (see the module docstring)."""
    rng = random.Random(SEED)
    p1, p2, p3 = _pages(rng)
    js = "application/json; charset=utf-8"
    page2 = _line("2025-10-23T10:21:02.118", f"{API}?page=2", js, _items(p2))
    filters = [
        {"$type": "AIC.Directory.Models.FilterOption, AIC.Directory",
         "Name": label, "Value": value}
        for label, value in [("Private Equity", "PE"), ("Venture Capital", "VC"),
                             ("Corporate", "CORP"), ("Superannuation", "NFPSF"),
                             ("Other", "XM")]
    ]
    first = [
        _line("2025-10-23T10:20:07.412", "https://investmentcouncil.com.au/site/Directory",
              "text/html; charset=utf-8"),
        _line("2025-10-23T10:20:08.030",
              "https://maps.googleapis.com/maps/api/js?callback=initMap"
              "&origin=investmentcouncil.com.au", "text/javascript; charset=UTF-8"),
        _line("2025-10-23T10:20:08.561", "https://investmentcouncil.com.au/api/directory/filters",
              js, _items(filters)),
        _line("2025-10-23T10:20:59.904", f"{API}?page=1", js, _items(p1)),
        page2[: len(page2) // 2],
        page2,
    ]
    second = [
        _line("2025-10-23T11:20:54.250", f"{API}?page=4", js, _items([])),
        _line("2025-10-23T11:20:55.771", f"{API}?page=3", js, _items(p3)),
        "upstream connect error or disconnect/reset before headers. "
        "reset reason: connection termination",
        page2.replace("2025-10-23T10:21:02.118", "2025-10-23T11:21:40.067"),
    ]
    return {
        "aic_responses_2025-10-23_10-20-07.jsonl": first,
        "aic_responses_2025-10-23_11-20-54.jsonl": second,
    }


def write(out_dir: Path) -> None:
    for name, lines in build().items():
        (out_dir / name).write_text("\n".join(lines) + "\n", encoding="utf-8")


if __name__ == "__main__":
    write(Path(__file__).resolve().parent)
