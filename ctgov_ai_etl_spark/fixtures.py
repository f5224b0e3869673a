"""Deterministic CTGov raw-study fixtures (FIXTURES.md §B1).

Synthetic nested study records exercising every semantic corner of
the reference's flatten/ETL path: each module individually absent
(→ 'N/A' defaults, /root/reference/etl.py:192-215), the three
partial-date forms plus absent (start_year rule, etl.py:201),
criteria text hitting every mock-classifier rule, and a locations
array for SEARCH[Location] semantics.  Pure function of ``n`` — no
randomness, so parity tests are byte-stable.
"""

from __future__ import annotations

import json
from typing import Any

_DATES = ["2013-05-01", "2013-05", "2013", None, "2020-11-30"]
_STATUSES = ["RECRUITING", "COMPLETED", None, "TERMINATED"]
_SEXES = ["FEMALE", "ALL", None]
_CRITERIA = [
    "Inclusion: adults. Exclusion: none noted.",  # NOT MENTIONED
    "Inclusion: participants must be pregnant at enrollment.",  # ONLY/INCLUDE
    "Exclusion: negative pregnancy test required.",  # EXCLUDE
    "Inclusion: postpartum within 6 weeks.",  # POSTPARTUM
    "Inclusion: pregnant or postpartum participants.",  # PREGNANT OR POSTPARTUM
    "Inclusion: trying to get pregnant for 12 months.",  # FERTILITY
    None,  # missing criteria → 'N/A'
]
_COUNTRIES = ["Canada", "United States", "France", None]


def make_raw_study(i: int) -> dict[str, Any]:
    """One deterministic raw study; module presence varies with ``i``."""
    protocol: dict[str, Any] = {}
    if i % 7 != 1:  # identificationModule absent every 7th+1
        protocol["identificationModule"] = {
            "nctId": f"NCT{i:08d}",
            "briefTitle": f"Study {i} brief",
            **({"officialTitle": f"Study {i} official"} if i % 3 else {}),
        }
    if i % 7 != 2:
        status: dict[str, Any] = {}
        if _STATUSES[i % len(_STATUSES)] is not None:
            status["overallStatus"] = _STATUSES[i % len(_STATUSES)]
        if _DATES[i % len(_DATES)] is not None:
            status["startDateStruct"] = {"date": _DATES[i % len(_DATES)]}
        protocol["statusModule"] = status
    if i % 7 != 3:
        protocol["designModule"] = {"studyType": "INTERVENTIONAL" if i % 2 else "OBSERVATIONAL"}
    if i % 7 != 4:
        elig: dict[str, Any] = {}
        if _SEXES[i % len(_SEXES)] is not None:
            elig["sex"] = _SEXES[i % len(_SEXES)]
        if _CRITERIA[i % len(_CRITERIA)] is not None:
            elig["eligibilityCriteria"] = _CRITERIA[i % len(_CRITERIA)]
        if i % 4 == 0:
            elig["minimumAge"] = "18 Years"
        if i % 5 == 0:
            elig["maximumAge"] = "64 Years"
        protocol["eligibilityModule"] = elig
    if i % 7 != 5:
        protocol["descriptionModule"] = {
            "briefSummary": f"Summary of study {i}.",
            **({"detailedDescription": f"Details of study {i}."} if i % 2 else {}),
        }
    study: dict[str, Any] = {"protocolSection": protocol}
    if i % 3 != 0:
        study["locations"] = [
            {"country": c, "city": f"City{j}"}
            for j, c in enumerate(_COUNTRIES[: (i % len(_COUNTRIES)) + 1])
            if c is not None
        ]
    return study


def make_raw_studies_json(n: int) -> list[str]:
    """n deterministic studies as JSON strings (the REST source's row
    format)."""
    return [json.dumps(make_raw_study(i), sort_keys=True) for i in range(n)]


def mock_ctgov_transport(
    n_studies: int = 57, page_size: int = 10, indexed: bool = False, log_path: str = ""
):
    """An in-process paginated transport over the fixture corpus:
    serves ``nextPageToken`` pages like the CTGov v2 API
    (/root/reference/etl.py:146-152 token protocol).  With
    ``indexed=True`` the second argument is a page *index* (the
    parallel-partition protocol) instead of an opaque offset token.
    With ``log_path`` every served page appends one ``"<rows>\\n"``
    line there: pages are fetched in Python worker processes, where an
    in-process counter cannot see them."""

    def transport(params: dict[str, Any], token: Any) -> dict[str, Any]:
        size = int(params.get("pageSize", page_size))
        if indexed:
            start = (int(token) if token else 0) * size
        else:
            start = int(token) if token else 0
        page = [make_raw_study(i) for i in range(start, min(start + size, n_studies))]
        if params.get("fields"):  # server-side projection, like CTGov v2
            paths = [p.strip() for p in str(params["fields"]).split(",") if p.strip()]
            page = [prune_study(s, paths) for s in page]
        if log_path:
            with open(log_path, "a") as fh:
                fh.write(f"{len(page)}\n")
        nxt = start + size
        out: dict[str, Any] = {"studies": page}
        if nxt < n_studies:
            out["nextPageToken"] = str(nxt)
        return out

    return transport


def prune_study(study: dict[str, Any], paths: list[str]) -> dict[str, Any]:
    """Project a nested study dict to the requested dotted paths —
    the fixture's replay of the CTGov v2 ``fields`` param semantics
    (absent paths are simply omitted, exactly like the live API)."""
    out: dict[str, Any] = {}
    for path in paths:
        parts = path.split(".")
        src: Any = study
        for part in parts:
            if isinstance(src, dict) and part in src:
                src = src[part]
            else:
                break
        else:
            dst = out
            for part in parts[:-1]:
                dst = dst.setdefault(part, {})
            dst[parts[-1]] = src
    return out
