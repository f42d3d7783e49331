"""Canonical Turtle emission — byte-identical to the reference's
emit_efin_ttl (select_xbrl_tags.py:96-612).

`turtle_text(...)` is the driver-side reference: it operates on
canonically-ordered pandas frames of the CSV views (companies by cik,
observations by (company, emission ord)) and returns ONE string,
byte-comparable to the reference's output file. Tests use it and its
block builders as the oracle; block building is pure Python because
byte parity needs Python str.capitalize / repr(float) semantics.

The scale path is emit/turtle_writer.py, which renders the same bytes
natively in Spark from the triple families' entry arrays
(emit/triples.py) in one sorted text write. The semantic store (what
P/R is measured on) is the triples DataFrame; Turtle is presentation.
"""

from __future__ import annotations

import math
import re

import pandas as pd

from ..functions.iri import iri_camel_case
from ..vocab.namespaces import CURRENCY_CODES, NAMESPACE_MAP, TTL_PREFIX_LINES
from ..vocab.metrics import COMPUTED_FROM_WHITELIST

HEADER_LINES = [
    "# select_xbrl_tags_full.py에 의해 자동 생성된 인스턴스",
    "# 이 파일은 efin_schema.ttl을 import하여 스키마의 클래스와 속성을 사용합니다.",
    *TTL_PREFIX_LINES,
    "",
    "#################################################################",
    "# Ontology Header for Instances",
    "#################################################################",
    "",
    "<https://w3id.org/edgar-fin/2024/instances>",
    "  a owl:Ontology ;",
    '  rdfs:label "EFIN Financial Instances"@en ;',
    '  rdfs:comment "EFIN 재무 온톨로지의 인스턴스 데이터. 스키마 온톨로지에서 정의된 클래스와 속성을 사용하여 실제 재무 데이터를 표현함. 스키마의 모든 prefix와 import는 스키마 import를 통해 상속됨."@ko ;',
    "  owl:imports <https://w3id.org/edgar-fin/2024#> .",
    "",
]


def _esc(s) -> str:
    if s is None:
        return ""
    return str(s).replace("\\", "\\\\").replace('"', '\\"')


def _safe(s) -> str:
    return re.sub(r"[^A-Za-z0-9._-]", "-", s or "")


def _close(lines: list[str]):
    lines[-1] = lines[-1].rstrip(" ;")
    lines.append(".")


def _s(v) -> str:
    """CSV-string view of a cell (None/NaN -> '')."""
    if v is None:
        return ""
    if isinstance(v, float) and math.isnan(v):
        return ""
    return str(v)


def company_block(c: dict, seen: dict) -> list[str]:
    """One company block (select_xbrl_tags.py:152-196); `seen` tracks
    sectors_seen / industries_seen / industry_sector_map."""
    cik = _s(c.get("cik")).zfill(10)
    sym = (_s(c.get("symbol"))).upper()
    name = _s(c.get("name"))
    sector = _s(c.get("sector")).strip()
    industry = _s(c.get("industry")).strip()
    sic = _s(c.get("sic"))
    sic_desc = _s(c.get("sic_description"))
    fye = _s(c.get("fye"))
    lines = [f"efin:CIK{cik} a efin:Company ;"]
    if cik:
        lines.append(f'  efin:hasCIK "{cik}" ;')
    if sym:
        lines.append(f'  efin:hasTicker "{_esc(sym)}" ;')
    if name:
        lines.append(f'  efin:hasCompanyName "{_esc(name)}" ;')
    if sic:
        lines.append(f'  efin:hasSIC "{_esc(sic)}" ;')
    if sic_desc:
        lines.append(f'  efin:hasSICDescription "{_esc(sic_desc)}" ;')
    if fye:
        lines.append(f'  efin:hasFiscalYearEnd "{_esc(fye)}" ;')
    if sector:
        seen["sectors"].add(sector)
        lines.append(f"  efin:inSector efin:Sector{iri_camel_case(sector)} ;")
    if industry:
        if industry not in seen["industries"]:
            seen["industries"].add(industry)
            if sector:
                seen["industry_sector"][industry] = sector
        lines.append(f"  efin:inIndustry efin:Industry{iri_camel_case(industry)} ;")
    _close(lines)
    return lines


def observation_block(o: dict, seen: dict) -> list[str]:
    """One observation block (select_xbrl_tags.py:235-400). Returns []
    when the row fails the schema validations."""
    cik = _s(o.get("cik")).zfill(10)
    fy = _s(o.get("fy"))
    metric = _s(o.get("metric"))
    end = _s(o.get("end"))
    period_type = _s(o.get("period_type"))
    is_derived = _s(o.get("is_derived")).lower() in ("1", "true", "yes")
    unit = _s(o.get("unit"))
    value = _s(o.get("value"))
    form = _s(o.get("form"))
    source_type = _s(o.get("source_type"))
    selected_tag = _s(o.get("selected_tag"))
    computed_from = _s(o.get("computed_from"))

    if not cik or not metric or not fy or not period_type or value == "":
        return []
    if period_type not in ("duration", "instant"):
        return []
    try:
        v = float(value)
    except Exception:
        return []

    obs_key = f"{cik}-{fy}-{metric}-{end or 'NA'}"
    obs_iri = f"efin:obs-{_safe(obs_key)}"
    lines = [f"{obs_iri} a efin:MetricObservation ;"]
    lines.append(f"  efin:ofCompany efin:CIK{cik} ;")
    lines.append(f"  efin:observesMetric efin:{_safe(metric)} ;")
    lines.append(f"  efin:hasFiscalYear {int(fy)} ;")
    lines.append(f'  efin:hasPeriodType "{_esc(period_type)}" ;')
    if end:
        lines.append(f'  efin:hasPeriodEnd "{_esc(end)}T00:00:00"^^xsd:dateTime ;')
    quarter = infer_quarter(form, end)
    if quarter is not None:
        lines.append(f"  efin:hasQuarter {quarter} ;")
    if unit:
        seen["units"].add(unit)
        lines.append(f"  efin:hasUnit efin:Unit{iri_camel_case(unit)} ;")
        uu = unit.upper()
        if uu in CURRENCY_CODES:
            seen["currencies"].add(uu)
            lines.append(f"  efin:hasCurrency efin:Currency{uu} ;")
    lines.append(f'  efin:hasNumericValue "{v}"^^xsd:double ;')
    if is_derived:
        lines.append("  efin:isDerived true ;")
    elif _s(o.get("is_derived")) != "":
        lines.append("  efin:isDerived false ;")
    if selected_tag:
        qname = selected_tag.strip()
        if qname and qname not in seen["concepts"]:
            namespace = ""
            if ":" in qname:
                prefix = qname.split(":")[0]
                namespace = NAMESPACE_MAP.get(
                    prefix, f"http://example.org/{prefix}/"
                )
            seen["concepts"][qname] = namespace
        lines.append(f"  efin:hasXbrlConcept efin:XBRLConcept{_safe(qname)} ;")
    if source_type:
        lines.append(f'  efin:hasSourceType "{_esc(source_type)}" ;')
    if computed_from and is_derived:
        for m in parse_computed_from(computed_from):
            if m in COMPUTED_FROM_WHITELIST:
                lines.append(f"  efin:computedFromMetric efin:{_safe(m)} ;")
    _close(lines)
    return lines


def infer_quarter(form: str, end: str):
    """hasQuarter from a 10-Q form's period-end month
    (select_xbrl_tags.py:297-315)."""
    if form and "10-Q" in form.upper() and end:
        m = None
        for fmt in (r"^(\d{4})-(\d{2})-(\d{2})$", r"^(\d{4})/(\d{2})/(\d{2})$"):
            mm = re.match(fmt, end)
            if mm:
                m = int(mm.group(2))
                break
        if m is None:
            mm = re.match(r"^(\d{2})/(\d{2})/(\d{4})$", end)
            if mm:
                m = int(mm.group(1))
        if m is not None and 1 <= m <= 12:
            return (m + 2) // 3
    return None


def parse_computed_from(computed_from: str) -> list[str]:
    """select_xbrl_tags.py:73-94."""
    if not computed_from or computed_from == "direct-growth":
        return []
    parts = re.split(r"[,;]", computed_from)
    metrics = []
    for part in parts:
        part = re.sub(r"\([^)]*\)", "", part.strip()).strip()
        if part and part not in metrics:
            metrics.append(part)
    return metrics


def benchmark_block(b: dict, include_industry_scope: bool) -> list[str]:
    industry = _s(b.get("industry")).strip()
    metric = _s(b.get("metric")).strip()
    fy = _s(b.get("fy"))
    if not metric or not fy:
        return []
    lines = []
    if industry:
        if not include_industry_scope:
            return []
        iri = f"efin:IndustryBenchmark{iri_camel_case(industry)}{iri_camel_case(metric)}{fy}"
        lines.append(f"{iri} a efin:IndustryBenchmark ;")
        lines.append(f"  efin:forIndustry efin:Industry{iri_camel_case(industry)} ;")
    else:
        iri = f"efin:AllBenchmark{iri_camel_case(metric)}{fy}"
        lines.append(f"{iri} a efin:AllBenchmark ;")
        lines.append("  efin:forSector efin:SectorAll ;")
    lines.append(f"  efin:forMetric efin:{_safe(metric)} ;")
    lines.append(f"  efin:forFiscalYear {int(fy)} ;")
    for key, pred in [
        ("average_value", "hasAverageValue"), ("median_value", "hasMedianValue"),
        ("max_value", "hasMaxValue"), ("min_value", "hasMinValue"),
        ("percentile25", "hasPercentile25"), ("percentile75", "hasPercentile75"),
    ]:
        val = b.get(key)
        if val is not None and _s(val) != "":
            lines.append(f'  efin:{pred} "{float(val)}"^^xsd:double ;')
    n = b.get("sample_size")
    if n is not None and _s(n) != "":
        lines.append(f"  efin:hasSampleSize {_s(n)} ;")
    _close(lines)
    return lines


def ranking_block(
    r: dict, fy_ranking: str,
    include_industry_scope: bool, include_sector_scope: bool,
) -> list[str]:
    """One Top10 ranking block + its hasRanking backlink
    (select_xbrl_tags.py:513-609). Returns [] when skipped."""
    industry = _s(r.get("industry")).strip()
    sector = _s(r.get("sector")).strip()
    metric = _s(r.get("metric")).strip()
    ranking_type = _s(r.get("ranking_type")).strip()
    cik = _s(r.get("cik")).strip()
    if not metric or not ranking_type or not cik:
        return []
    if ranking_type != "Top10":
        return []
    try:
        rank_int = int(float(_s(r.get("rank")))) if _s(r.get("rank")) else None
    except (ValueError, TypeError):
        return []
    if rank_int is None:
        return []

    if industry:
        scope = "industry"
        iri = (f"efin:TopRanking{iri_camel_case(industry)}"
               f"{iri_camel_case(metric)}{ranking_type}{fy_ranking}{cik.zfill(10)}")
    elif sector:
        scope = "sector"
        iri = (f"efin:TopRankingSector{iri_camel_case(sector)}"
               f"{iri_camel_case(metric)}{ranking_type}{fy_ranking}{cik.zfill(10)}")
    else:
        scope = "all"
        iri = (f"efin:TopRankingAll{iri_camel_case(metric)}"
               f"{ranking_type}{fy_ranking}{cik.zfill(10)}")

    if scope == "industry" and not include_industry_scope and metric != "Composite":
        return []
    if scope == "sector" and not include_sector_scope and metric != "Composite":
        return []

    cls = "efin:IndustryTopRanking" if scope == "industry" else "efin:AllTopRanking"
    lines = [f"{iri} a {cls} ;"]
    if scope == "industry":
        lines.append(f"  efin:forIndustry efin:Industry{iri_camel_case(industry)} ;")
    elif scope == "sector":
        lines.append(f"  efin:forSector efin:Sector{iri_camel_case(sector)} ;")
    else:
        lines.append("  efin:forSector efin:SectorAll ;")
    lines.append(f"  efin:forMetric efin:{_safe(metric)} ;")
    if fy_ranking:
        lines.append(f"  efin:forFiscalYear {int(fy_ranking)} ;")
    lines.append(f'  efin:hasRankingType "{_esc(ranking_type)}" ;')
    lines.append(f"  efin:hasRank {rank_int} ;")
    value = r.get("value")
    if value is not None and _s(value) != "":
        try:
            vf = float(value)
            if not (math.isnan(vf) or math.isinf(vf)):
                lines.append(f'  efin:hasRankingValue "{vf}"^^xsd:double ;')
        except (ValueError, TypeError):
            pass
    cs = r.get("composite_score")
    if cs is not None and _s(cs) != "":
        try:
            sf = float(cs)
            if not (math.isnan(sf) or math.isinf(sf)):
                lines.append(f'  efin:hasCompositeScore "{sf}"^^xsd:double ;')
        except (ValueError, TypeError):
            pass
    _close(lines)
    lines.append(f"efin:CIK{cik.zfill(10)} efin:hasRanking {iri} .")
    return lines


def turtle_text(
    companies: pd.DataFrame,
    observations: pd.DataFrame,
    benchmarks: pd.DataFrame | None = None,
    rankings: pd.DataFrame | None = None,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
) -> str:
    """The full Turtle document as one string. Inputs must already be
    in canonical order (companies/observations: (cik, emission ord);
    benchmarks/rankings: the engine's canonical family order)."""
    seen = {
        "sectors": set(), "industries": set(), "industry_sector": {},
        "units": set(), "currencies": set(), "concepts": {},
    }
    lines = list(HEADER_LINES)

    comp_rows = companies.to_dict("records")
    for c in comp_rows:
        lines.extend(company_block(c, seen))

    bench_rows = benchmarks.to_dict("records") if benchmarks is not None else []
    rank_rows = rankings.to_dict("records") if rankings is not None else []
    needs_sector_all = any(
        not _s(b.get("industry")).strip() and not _s(b.get("sector")).strip()
        for b in bench_rows
    ) or any(
        not _s(r.get("industry")).strip() and not _s(r.get("sector")).strip()
        for r in rank_rows
    )

    if seen["sectors"] or needs_sector_all:
        lines.append("")
        for sector in sorted(seen["sectors"]):
            lines.append(f"efin:Sector{iri_camel_case(sector)} a efin:Sector .")
        if needs_sector_all:
            lines.append("efin:SectorAll a efin:Sector .")

    if seen["industries"]:
        lines.append("")
        for industry in sorted(seen["industries"]):
            iri = f"efin:Industry{iri_camel_case(industry)}"
            lines.append(f"{iri} a efin:Industry .")
            if industry in seen["industry_sector"]:
                s_iri = f"efin:Sector{iri_camel_case(seen['industry_sector'][industry])}"
                lines.append(f"{iri} efin:inSectorOf {s_iri} .")

    lines.append("")
    for o in observations.to_dict("records"):
        lines.extend(observation_block(o, seen))

    if seen["units"]:
        lines.append("")
        lines.append("# Unit 인스턴스")
        for unit in sorted(seen["units"]):
            lines.append(f"efin:Unit{iri_camel_case(unit)} a efin:Unit .")

    if seen["currencies"]:
        lines.append("")
        lines.append("# Currency 인스턴스")
        for cur in sorted(seen["currencies"]):
            lines.append(f"efin:Currency{cur} a efin:Currency .")

    if seen["concepts"]:
        lines.append("")
        lines.append("# XBRLConcept 인스턴스")
        for qname, namespace in sorted(seen["concepts"].items()):
            blk = [f"efin:XBRLConcept{_safe(qname)} a efin:XBRLConcept ;",
                   f'  efin:hasQName "{_esc(qname)}" ;']
            if namespace:
                blk.append(f'  efin:hasNamespace "{_esc(namespace)}"^^xsd:anyURI ;')
            _close(blk)
            lines.extend(blk)

    if bench_rows:
        lines.append("")
        lines.append("# 벤치마크 통계")
        for b in bench_rows:
            lines.extend(benchmark_block(b, include_industry_scope))

    if rank_rows:
        lines.append("")
        lines.append("# 랭킹")
        fy_ranking = _s(rank_rows[0].get("fy")) if rank_rows else ""
        if not fy_ranking and len(observations):
            fy_ranking = _s(observations.iloc[0].get("fy"))
        for r in rank_rows:
            lines.extend(ranking_block(
                r, fy_ranking, include_industry_scope, include_sector_scope
            ))

    return "\n".join(lines)
