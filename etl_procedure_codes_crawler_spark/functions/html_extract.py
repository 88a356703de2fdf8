"""Pure HTML→scalar/array extraction functions (SURVEY §2.6 F1-F21).

Architectural difference from the reference, on purpose: the reference
interleaves Selenium tab-clicks with parsing, so page state mutates
mid-extraction and extractor order is load-bearing
(``crawler/src/procedure_code.py:602-618``, SURVEY §3). Here the fetch
layer captures ONE fully-expanded HTML document per code, and every
function below is a pure function of that snapshot — order-independent,
unit-testable, and safe to run inside Arrow-batched executors.

Null semantics preserved exactly (SURVEY §1.2): ``None`` means the
tab/section is absent, ``[]`` means present with zero rows
(``procedure_code.py:317-332``).

Each docstring cites the reference behavior it reproduces.
"""

from __future__ import annotations

import re

from .htmldom import HtmlNode, compile_word, parse_html

_WS = re.compile(r"\s+")

# Reference text markers (procedure_code.py:89-96); the deleted-page
# lay-term probe is a content-specific heuristic in the reference —
# kept for parity, exposed as constants so they are visibly data, not logic.
DELETED_LAYTERM_MARKERS = ("The provider administers the first dose", "COVID–19")
DELETED_GUIDELINE_MARKERS = ("Guidelines found", "No CPT", "No HCPCS")


def normalize_ws(text: str) -> str:
    """F20: collapse whitespace runs (``procedure_code.py:70,82,108``)."""
    return _WS.sub(" ", text).strip()


def classify_code_type(url: str) -> str:
    """F21: 'CPT' if the URL mentions cpt, else 'HCPCS'
    (``procedure_code.py:550,602``)."""
    return "CPT" if "cpt" in (url or "").lower() else "HCPCS"


# --------------------------------------------------------------------------
# Page-level predicates (P6)
# --------------------------------------------------------------------------

def is_error_404_page(doc: HtmlNode) -> bool:
    """``div.container404`` present (``procedure_code.py:53-54``)."""
    return doc.find("div", class_="container404") is not None


def is_deleted_hcpcs_page(doc: HtmlNode) -> bool:
    """First ``h1`` contains 'Deleted HCPCS Codes'
    (``procedure_code.py:56-58``)."""
    h1 = doc.find("h1")
    return h1 is not None and "Deleted HCPCS Codes" in h1.get_text(strip=True)


# --------------------------------------------------------------------------
# F1 — deleted-code page variant
# --------------------------------------------------------------------------

def extract_deleted(doc: HtmlNode):
    """F1 (``procedure_code.py:60-111``): if a whole-word 'Deleted' span
    exists, scrape the deleted-page variant.

    Returns ``(date_deleted, advice, lay_term, guidelines, description)``
    or ``None`` when the page is not a deleted-code page.
    """
    if doc.find("span", string=compile_word("Deleted")) is None:
        return None

    date_deleted = None
    alert = doc.find("div", class_="alert alert-danger")
    if alert:
        date_deleted = normalize_ws(alert.get_text(separator=" ", strip=True))

    advice = None
    for div in doc.find_all("div"):
        text = div.get_text(separator=" ", strip=True)
        if "Advice:" in text:
            p = div.find("p")
            if p:
                advice_text = p.get_text(strip=True)
            else:
                _, _, after = text.partition("Advice:")
                advice_text = after.strip() or text.strip()
            advice = normalize_ws(advice_text)
            break

    panes = doc.find_all("div", class_="panel-body tab-pane")

    lay_term = None
    for div in panes:
        text = div.get_text(separator=" ", strip=True)
        if all(marker in text for marker in DELETED_LAYTERM_MARKERS):
            lay_term = text.strip()
            break

    guidelines = None
    for div in panes:
        text = div.get_text(separator=" ", strip=True)
        if any(marker in text for marker in DELETED_GUIDELINE_MARKERS):
            guidelines = text.strip()
            break

    description = None
    for panel in doc.find_all("div", class_="panel panel-default"):
        heading = panel.find("div", class_="panel-heading")
        if heading and "Code Descriptor" in heading.get_text():
            body = panel.find("div", class_="panel-body tab-pane")
            if body:
                description = normalize_ws(
                    body.get_text(separator=" ", strip=True)
                )
                break

    return date_deleted, advice, lay_term, guidelines, description


# --------------------------------------------------------------------------
# F2-F5 — header / breadcrumb fields
# --------------------------------------------------------------------------

def extract_short_description(doc: HtmlNode) -> str:
    """F2 (``procedure_code.py:113-125``): h1 inside ``div.layout2_code``,
    text after the first comma (whole text when no comma). '' if absent."""
    container = doc.find("div", class_="layout2_code")
    if container:
        h1 = container.find("h1")
        if h1:
            full = h1.get_text().strip()
            head, sep, tail = full.partition(",")
            return tail.strip() if sep else full
    return ""


def extract_long_description(doc: HtmlNode) -> str:
    """F3 (``procedure_code.py:127-136``): ``div.sub_head_detail`` text,
    falling back to ``h2.sub_head_detail``. '' if absent."""
    div = doc.find("div", class_="sub_head_detail")
    if div:
        return div.get_text().strip()
    h2 = doc.find("h2", class_="sub_head_detail")
    if h2:
        return h2.get_text().strip()
    return ""


def _breadcrumbs(doc: HtmlNode) -> HtmlNode | None:
    crumbs = doc.find("div", class_="div newbread")
    if crumbs is None:
        crumbs = doc.find("div", class_="newbread logout-header")
    return crumbs


def extract_main_interval_name(doc: HtmlNode) -> list[str] | None:
    """F4 (``procedure_code.py:138-163``): breadcrumb span texts after the
    last "CPT Codes"/"HCPCS Codes" anchor, stopping at the first crumb
    without a link. ``None`` when empty."""
    crumbs = _breadcrumbs(doc)
    if crumbs is None:
        return None
    all_divs = crumbs.find_all("div", class_="div")
    start = -1
    for i, div in enumerate(all_divs):
        a = div.find("a")
        if a and a.get_text(strip=True) in ("CPT Codes", "HCPCS Codes"):
            start = i
    names: list[str] = []
    if start != -1:
        for div in all_divs[start + 1:]:
            if div.find("a"):
                span = div.find("span")
                if span:
                    names.append(span.get_text(strip=True))
            else:
                break
    return names or None


_CPT_RANGE = re.compile(r"/cpt-codes-range/(\d{4,5}T?-\d{4,5}T?)/")
_HCPCS_RANGE = re.compile(r"\b([A-Z]\d{4}-[A-Z]\d{4})\b")


def extract_main_interval(doc: HtmlNode, is_cpt: bool) -> str:
    """F5 (``procedure_code.py:165-186``): CPT — range token from
    ``/cpt-codes-range/`` hrefs; HCPCS — ``A0000-A9999`` token from
    breadcrumb span text. '' if absent."""
    crumbs = doc.find("div", class_="div newbread")
    if crumbs is None:
        return ""
    if is_cpt:
        for a in crumbs.find_all("a"):
            href = a.get("href")
            if href:
                match = _CPT_RANGE.search(href)
                if match:
                    return match.group(1)
    else:
        for span in crumbs.find_all("span"):
            match = _HCPCS_RANGE.search(span.get_text().strip())
            if match:
                return match.group(1)
    return ""


# --------------------------------------------------------------------------
# F6 — modifiers table (dual output)
# --------------------------------------------------------------------------

def extract_modifier_rows(doc: HtmlNode):
    """F6 (``procedure_code.py:188-205``): ``div.modcross_list tbody`` rows →
    ``([(modifier, description), ...], [modifier, ...])``; both empty when
    the table is absent."""
    pairs: list[tuple[str, str]] = []
    codes: list[str] = []
    container = doc.find("div", class_="modcross_list")
    if container:
        tbody = container.find("tbody")
        if tbody:
            for row in tbody.find_all("tr"):
                cells = row.find_all("td")
                if len(cells) >= 2:
                    modifier = cells[0].get_text().strip()
                    description = cells[1].get_text().strip()
                    pairs.append((modifier, description))
                    codes.append(modifier)
    return pairs, codes


# --------------------------------------------------------------------------
# F7-F11 — simple tab panes (static ids in the snapshot)
# --------------------------------------------------------------------------

def extract_betos(doc: HtmlNode):
    """F7 (``procedure_code.py:207-226``): ``#cpt_betos``/``#hcpcs_betos``
    div → (code, description) from the 'Code:'/'Description:' strongs."""
    pane = doc.find("div", id="cpt_betos") or doc.find("div", id="hcpcs_betos")
    betos_code = None
    betos_description = None
    if pane:
        for inner in pane.find_all("div"):
            strong = inner.find("strong")
            if strong:
                strong_text = strong.get_text()
                if "Code:" in strong_text:
                    betos_code = inner.get_text().replace("Code:", "").strip()
                elif "Description:" in strong_text:
                    betos_description = (
                        inner.get_text().replace("Description:", "").strip()
                    )
    return betos_code, betos_description


def _pane_text(doc: HtmlNode, div_id: str) -> str | None:
    pane = doc.find("div", id=div_id)
    if pane is None:
        return None
    return pane.get_text(separator=" ", strip=True)


def extract_guidelines(doc: HtmlNode) -> str | None:
    """F8 (``procedure_code.py:228-236``): ``#cpt_guidelines`` flattened."""
    return _pane_text(doc, "cpt_guidelines")


def extract_advice(doc: HtmlNode) -> str | None:
    """F9 (``procedure_code.py:238-245``): ``#cpt_advice`` flattened."""
    return _pane_text(doc, "cpt_advice")


def extract_report(doc: HtmlNode) -> str | None:
    """F11 (``procedure_code.py:295-302``): ``#cpt_report`` flattened."""
    return _pane_text(doc, "cpt_report")


_READ_LESS = compile_word("Read Less")


def extract_lay_term(doc: HtmlNode):
    """F10 (``procedure_code.py:247-293``): ``#fullLayterm`` pane →
    ``(summary, lay_term)`` where summary is the first ``<p>`` and
    lay_term the full text with any 'Read Less' link removed.
    ``(None, None)`` when the pane is absent."""
    pane = doc.find("div", id="fullLayterm")
    if pane is None:
        return None, None
    summary = None
    first_p = pane.find("p")
    if first_p:
        summary = first_p.get_text(strip=True)
    read_less = pane.find("a", string=_READ_LESS)
    if read_less is not None:
        read_less.decompose()
    lay_term = pane.get_text(separator=" ", strip=True)
    if lay_term.lower().endswith("read less"):
        lay_term = lay_term[: -len("Read Less")].strip()
    return summary, lay_term


# --------------------------------------------------------------------------
# F12-F15 — AJAX-table tabs (captured fully loaded by the fetch layer)
# --------------------------------------------------------------------------

def _points_table_first_column(pane: HtmlNode) -> list[str]:
    codes: list[str] = []
    for table in pane.find_all("table", class_="points_table"):
        scope = table.find("tbody") or table
        for row in scope.find_all("tr"):
            cells = row.find_all("td")
            if cells:
                value = cells[0].get_text(strip=True)
                if value:
                    codes.append(value)
    return codes


def extract_revenue_lookup(doc: HtmlNode) -> list[str] | None:
    """F12 (``procedure_code.py:304-341``): ``#cpt_revenue_cross`` pane;
    'Data Not Available' → None; otherwise first ``<td>`` per data row of
    ``table.points_table`` (header row skipped) → list, possibly ``[]``.

    The None-vs-[] distinction is semantic (SURVEY §1.2) — None means
    the tab/data is absent, [] means the table exists with no rows.
    """
    pane = doc.find("div", id="cpt_revenue_cross")
    if pane is None:
        return None
    if "Data Not Available" in pane.get_text():
        return None
    table = pane.find("table", class_="points_table")
    if table is None:
        return None
    codes: list[str] = []
    rows = table.find_all("tr")
    for row in rows[1:]:  # reference skips the header row (:325)
        cells = row.find_all("td")
        if cells:
            value = cells[0].get_text(strip=True)
            if value:
                codes.append(value)
    return codes


def extract_icd10_cm(doc: HtmlNode) -> list[str] | None:
    """F13 (``procedure_code.py:343-403``): ICD-10-CM tab — the reference
    clicks each letter button (``a.ab_links``) and scrapes the first
    column of each ``table.points_table``; our snapshot carries every
    letter's table already rendered. Codes are '.'-stripped (:397).
    ``None`` when the tab or results are absent."""
    pane = doc.find("div", id="icd10cmdata")
    if pane is None:
        # fall back: any container that holds the letter buttons
        for div in doc.find_all("div"):
            if div.find("a", class_="ab_links") is not None:
                pane = div
                break
    if pane is None:
        return None
    codes = [c.replace(".", "") for c in _points_table_first_column(pane)]
    return codes or None


def extract_ndc(doc: HtmlNode):
    """F14 (``procedure_code.py:405-445``): ``#ndc`` pane table →
    ``(alternate_ids | None, [5-field dict, ...] | None)``. Rows with all
    cells blank are dropped (:422); rows with <5 cells are dropped (:435);
    ``bill_unit`` is stripped (:442)."""
    pane = doc.find("div", id="ndc")
    if pane is None:
        return None, None
    table = pane.find("table")
    if table is None:
        return None, None
    scope = table.find("tbody") or table
    ndc_rows: list[list[str]] = []
    for row in scope.find_all("tr"):
        cells = row.find_all("td")
        if cells:
            values = [cell.get_text().strip() for cell in cells]
            if any(values):
                ndc_rows.append(values)
    if not ndc_rows:
        return None, None
    alternate_ids: list[str] = []
    records: list[dict[str, str]] = []
    for values in ndc_rows:
        if len(values) >= 5:
            alternate_ids.append(values[0])
            records.append(
                {
                    "ndc_alternate_id": values[0],
                    "drug_name": values[1],
                    "labeler_name": values[2],
                    "hcpcs_dosage": values[3],
                    "bill_unit": values[4].strip() if values[4] else "",
                }
            )
    return (alternate_ids or None), (records or None)


def extract_icd_pcs_x(doc: HtmlNode) -> list[str] | None:
    """F15 (``procedure_code.py:447-478``): ``#pcsdata`` pane,
    ``table.points_table`` first column; ``None`` when absent/empty."""
    pane = doc.find("div", id="pcsdata")
    if pane is None:
        return None
    table = pane.find("table", class_="points_table")
    if table is None:
        return None
    codes: list[str] = []
    scope = table.find("tbody") or table
    for row in scope.find_all("tr"):
        cells = row.find_all("td")
        if cells:
            value = cells[0].get_text(strip=True)
            if value:
                codes.append(value)
    return codes or None


# --------------------------------------------------------------------------
# F16-F17 — symbols and official descriptor
# --------------------------------------------------------------------------

def _icon_symbols(container: HtmlNode, drop_images: bool) -> list[str]:
    symbols: list[str] = []
    for icon in container.find_all("div", class_="icon-dic-o"):
        if drop_images:
            for img in icon.find_all("img"):
                img.decompose()
        text = icon.get_text(separator=" ", strip=True)
        _, sep, tail = text.partition(":")
        if sep:
            description = tail.strip()
            if description:
                symbols.append(description)
    return symbols


def extract_cpt_code_symbols(doc: HtmlNode, url: str) -> list[str] | None:
    """F16 (``procedure_code.py:480-519``): URL-dependent — CPT pages use
    ``#cpt_symbol_div``; HCPCS pages locate the 'HCPCS Code Symbols' box
    (``p.box-detail-head`` → parent ``div.box-detail.box-blue``) and drop
    ``<img>`` icons before splitting on ':'. ``None`` when empty."""
    url = (url or "").lower()
    if "cpt-codes" in url:
        container = doc.find("div", id="cpt_symbol_div")
        if container:
            symbols = _icon_symbols(container, drop_images=False)
            if symbols:
                return symbols
    elif "hcpcs-codes" in url:
        title = doc.find("p", class_="box-detail-head", string="HCPCS Code Symbols")
        if title:
            box = title.find_parent()
            if box:
                symbols = _icon_symbols(box, drop_images=True)
                if symbols:
                    return symbols
    return None


def extract_official_descriptor(doc: HtmlNode) -> str | None:
    """F17 (``procedure_code.py:521-538``): first ``div.tab-pane``,
    stripped strings joined with spaces; ``None`` when empty/absent."""
    pane = doc.find("div", class_="tab-pane")
    if pane is None:
        return None
    text = " ".join(pane.stripped_strings)
    return text or None


# --------------------------------------------------------------------------
# Whole-page extraction (feeds the mapInPandas operator, SURVEY §2.7)
# --------------------------------------------------------------------------

STATUS_OK = "ok"
STATUS_DELETED = "deleted"
STATUS_404 = "error_404"
STATUS_DELETED_LISTING = "deleted_listing"
STATUS_PARSE_ERROR = "parse_error"

_EMPTY_21 = {
    "main_interval": None,
    "main_interval_name": None,
    "modifiers": None,
    "short_description": None,
    "long_description": None,
    "description": None,
    "summary": None,
    "date_deleted": None,
    "betos_code": None,
    "betos_description": None,
    "guidelines": None,
    "advice": None,
    "lay_term": None,
    "report": None,
    "revenue_lookup": None,
    "icd10_cm": None,
    "ndc_alternate_id": None,
    "icd_10_pcs_x": None,
    "cpt_code_symbols": None,
}


def parse_procedure_page(code: str, url: str, html: str) -> dict:
    """The pure core of the reference's per-code operator
    (``extracted_procedure_modifiers_v2``, ``procedure_code.py:540-651``):
    one page → one flat record with the 21 code columns plus
    ``modifier_rows``/``ndc_rows`` arrays and a ``status``.

    Differences from the reference, both deliberate (SURVEY §2.7):

    - 404/deleted-listing pages yield a status row instead of three
      silently-empty frames, so skips are observable and filterable;
    - exceptions yield ``status='parse_error'`` + ``error`` instead of
      the reference's bare ``return None`` (:650-651), which crashed
      the caller's loop.
    """
    base = {"code": code, "status": STATUS_OK, "error": None,
            "modifier_rows": None, "ndc_rows": None,
            "code_type": None, **_EMPTY_21}
    try:
        doc = parse_html(html)
        code_type = classify_code_type(url)
        is_cpt = code_type == "CPT"

        if is_error_404_page(doc):
            return {**base, "status": STATUS_404}
        if is_deleted_hcpcs_page(doc):
            return {**base, "status": STATUS_DELETED_LISTING}

        deleted = extract_deleted(doc)
        if deleted:
            date_deleted, advice, lay_term, guidelines, description = deleted
            return {
                **base,
                "status": STATUS_DELETED,
                "code_type": code_type,
                "description": description,
                "date_deleted": date_deleted,
                "guidelines": guidelines,
                "advice": advice,
                "lay_term": lay_term,
            }

        modifier_pairs, modifier_codes = extract_modifier_rows(doc)
        summary, lay_term = extract_lay_term(doc)
        betos_code, betos_description = extract_betos(doc)
        ndc_ids, ndc_records = extract_ndc(doc)

        return {
            **base,
            "code_type": code_type,
            "main_interval": extract_main_interval(doc, is_cpt),
            "main_interval_name": extract_main_interval_name(doc),
            "modifiers": modifier_codes or None,
            "short_description": extract_short_description(doc),
            "long_description": extract_long_description(doc),
            "description": extract_official_descriptor(doc),
            "summary": summary,
            "betos_code": betos_code,
            "betos_description": betos_description,
            "guidelines": extract_guidelines(doc),
            "advice": extract_advice(doc),
            "lay_term": lay_term,
            "report": extract_report(doc),
            "revenue_lookup": extract_revenue_lookup(doc),
            "icd10_cm": extract_icd10_cm(doc),
            "ndc_alternate_id": ndc_ids,
            "icd_10_pcs_x": extract_icd_pcs_x(doc),
            "cpt_code_symbols": extract_cpt_code_symbols(doc, url),
            "modifier_rows": modifier_pairs or None,
            "ndc_rows": [
                (
                    r["ndc_alternate_id"],
                    r["drug_name"],
                    r["labeler_name"],
                    r["hcpcs_dosage"],
                    r["bill_unit"],
                )
                for r in ndc_records
            ]
            if ndc_records
            else None,
        }
    except Exception as exc:  # pragma: no cover - defensive
        return {**base, "status": STATUS_PARSE_ERROR, "error": repr(exc)}
