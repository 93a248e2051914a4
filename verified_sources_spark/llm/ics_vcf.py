"""iCalendar (RFC 5545) and vCard (RFC 6350) — the calendar-invite /
contact-card share of every mail archive.

Both formats are the same content-line grammar: CRLF-separated
``NAME;PARAM=V:VALUE`` lines, FOLDED at ~75 octets (continuation =
leading space/tab), values escaped (``\\n`` ``\\,`` ``\\;``),
components delimited by BEGIN:/END: with nesting (VCALENDAR holds
VEVENTs and VTIMEZONEs).  The parsers implement that grammar from
the RFC text; the fixture encoders fold and escape independently, so
reader and writer cross-check the grammar (tests/test_ics_vcf.py
round-trips folding, escaping, nesting and the date forms).

Surfaces: ``parse_ics`` → per-VEVENT dicts (uid, summary,
description, location, organizer, dtstart/dtend raw + UTC epoch ms).
Epochs come from three unambiguous sources, in priority order:
``...Z`` (UTC), ``VALUE=DATE`` (midnight UTC by convention), and
``TZID=...`` values whose timezone is defined by an EMBEDDED
VTIMEZONE in the same calendar — STANDARD/DAYLIGHT observances with
TZOFFSETFROM/TZOFFSETTO, either one-shot (fixed offset) or recurring
via the yearly BYMONTH+BYDAY RRULE form real exports use.  A TZID
with no embedded VTIMEZONE — or one using RRULE shapes beyond that
form — keeps its raw string and a NULL epoch: resolving it would
mean inventing a tz database, which is silent garble.  Fall-back
ambiguity (a local time covered by two observances) deterministically
takes the pre-transition offset (zoneinfo's fold=0 convention);
spring-forward local times that never existed resolve to null.
``parse_vcf`` → per-card dicts (fn, org, title, emails, tels).  Spark ops ``ics_events`` / ``vcf_cards`` explode payloads
Arrow-batched with the usual decoded_ok isolation, and the document
router routes ``BEGIN:VCALENDAR`` / ``BEGIN:VCARD`` payloads here so
invite/contact attachments land as structured rows, not prose garble.
Charset rides llm/text_fix.decode_bare_text (legacy-encoded exports
decode exactly).
"""

from __future__ import annotations

from verified_sources_spark.boundary import map_rows

__all__ = [
    "IcsVcfError", "unfold_lines", "parse_ics", "parse_vcf",
    "encode_ics", "encode_vcf", "ics_events", "vcf_cards",
    "ICS_EVENTS_SCHEMA", "VCF_CARDS_SCHEMA",
]


class IcsVcfError(ValueError):
    """Named refusal: not a well-formed iCalendar / vCard payload."""


def _decode(data: bytes) -> str:
    from verified_sources_spark.llm.text_fix import decode_bare_text

    out = decode_bare_text(data)
    if out is None or not out[2]:
        raise IcsVcfError("payload is not decodable text")
    return out[0]


def unfold_lines(text: str) -> list[str]:
    """RFC 5545 §3.1 unfolding: CRLF (or bare LF, which real exports
    emit) followed by one space/tab continues the previous line."""
    out: list[str] = []
    for raw in text.replace("\r\n", "\n").replace("\r", "\n").split("\n"):
        if raw[:1] in (" ", "\t") and out:
            out[-1] += raw[1:]
        elif raw:
            out.append(raw)
    return out


def _unescape(v: str) -> str:
    out, i, n = [], 0, len(v)
    while i < n:
        c = v[i]
        if c == "\\" and i + 1 < n:
            nxt = v[i + 1]
            if nxt in ("n", "N"):
                out.append("\n")
            elif nxt in (",", ";", "\\"):
                out.append(nxt)
            else:
                out.append(nxt)
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _parse_content_line(line: str) -> tuple[str, dict, str]:
    """``NAME;P1=V1;P2=V2:value`` → (NAME, params, raw value).  The
    colon search must skip quoted parameter values (RFC 5545 §3.2)."""
    i, n, in_q = 0, len(line), False
    while i < n:
        c = line[i]
        if c == '"':
            in_q = not in_q
        elif c == ":" and not in_q:
            break
        i += 1
    if i >= n:
        raise IcsVcfError(f"content line without ':' — {line[:40]!r}")
    head, value = line[:i], line[i + 1:]
    parts = []
    j, start, in_q = 0, 0, False
    for j, c in enumerate(head):
        if c == '"':
            in_q = not in_q
        elif c == ";" and not in_q:
            parts.append(head[start:j])
            start = j + 1
    parts.append(head[start:])
    name = parts[0].upper()
    params = {}
    for p in parts[1:]:
        if "=" in p:
            k, v = p.split("=", 1)
            params[k.upper()] = v.strip('"')
    if not name:
        raise IcsVcfError("content line with empty property name")
    return name, params, value


def _dt_ms(value: str, params: dict) -> int | None:
    """UTC epoch ms for the unambiguous forms: ``...Z`` (UTC) and
    VALUE=DATE (midnight UTC by convention); TZID-localized values
    return None — inventing a tz database would be silent garble."""
    import datetime as dt

    v = value.strip()
    try:
        if params.get("VALUE") == "DATE" or (len(v) == 8 and
                                             v.isdigit()):
            d = dt.datetime(int(v[:4]), int(v[4:6]), int(v[6:8]),
                            tzinfo=dt.timezone.utc)
            return int(d.timestamp() * 1000)
        if v.endswith("Z") and len(v) == 16 and v[8] == "T":
            d = dt.datetime(int(v[:4]), int(v[4:6]), int(v[6:8]),
                            int(v[9:11]), int(v[11:13]), int(v[13:15]),
                            tzinfo=dt.timezone.utc)
            return int(d.timestamp() * 1000)
    except ValueError as e:
        raise IcsVcfError(f"bad date-time {v!r}: {e}") from None
    return None


# ------------------------------------------------- VTIMEZONE algebra

_WEEKDAYS = {"MO": 0, "TU": 1, "WE": 2, "TH": 3, "FR": 4,
             "SA": 5, "SU": 6}


def _parse_utc_offset(s: str) -> int:
    """``±HHMM[SS]`` → signed seconds (RFC 5545 §3.3.14)."""
    s = s.strip()
    if not s or s[0] not in "+-":
        raise IcsVcfError(f"utc-offset without sign: {s!r}")
    digits = s[1:]
    if len(digits) not in (4, 6) or not digits.isdigit():
        raise IcsVcfError(f"malformed utc-offset {s!r}")
    sec = (int(digits[:2]) * 3600 + int(digits[2:4]) * 60
           + (int(digits[4:6]) if len(digits) == 6 else 0))
    if sec >= 86400:
        # RFC 5545 offsets are < 24h; a fuzzed ±99xxxx offset would
        # also overflow the bounded-sentinel arithmetic downstream
        raise IcsVcfError(f"utc-offset {s!r} is a day or more")
    return -sec if s[0] == "-" else sec


def _local_dt(v: str):
    """``YYYYMMDDTHHMMSS`` (no zone designator) → naive datetime.
    Out-of-range fields (month 13, day 32…) refuse by name — the
    datetime ValueError must not escape raw through the fuzz net."""
    import datetime as dt

    v = v.strip()
    try:
        if len(v) == 15 and v[8] == "T" and (v[:8] + v[9:]).isdigit():
            return dt.datetime(int(v[:4]), int(v[4:6]), int(v[6:8]),
                               int(v[9:11]), int(v[11:13]),
                               int(v[13:15]))
        if len(v) == 8 and v.isdigit():
            return dt.datetime(int(v[:4]), int(v[4:6]), int(v[6:8]))
    except ValueError as e:
        raise IcsVcfError(f"bad local date-time {v!r}: {e}") from None
    raise IcsVcfError(f"not a local date-time: {v!r}")


def _tz_period_rdate(obs_cur: dict, v: str) -> dict:
    """One RDATE;VALUE=PERIOD entry (RFC 5545 §3.3.9
    ``start/end-or-duration``) on a tz observance: the period START
    is the transition onset — local starts go straight into the
    local-clock onset list, Z-suffixed starts are UTC instants
    shifted by TZOFFSETFROM at expansion time (``rdates_utc``).  The
    end half must parse as a date-time or an ISO 8601 duration; a
    malformed period raises, marking the TZID unresolvable instead of
    guessing."""
    import re

    if "/" not in v:
        raise IcsVcfError(f"tz PERIOD RDATE without '/': {v!r}")
    start, end = v.split("/", 1)
    start = start.strip()
    end = end.strip()
    # RFC 5545 dur-value: a bare 'T' needs at least one time
    # component (lookahead), and the whole form at least one digit —
    # 'P', 'PT' and 'P1DT' are NOT durations
    dur = re.fullmatch(
        r"[+-]?P(\d+W|(\d+D)?(T(?=\d)(\d+H)?(\d+M)?(\d+S)?)?)", end)
    if dur is None or not any(c.isdigit() for c in end):
        # not a duration: the end must be a date-time (same zone
        # grammar as the start, ONE optional Z) — parse it purely
        # for validation
        _local_dt(end[:-1] if end[-1:] in ("Z", "z") else end)
    if start.endswith(("Z", "z")):
        obs_cur.setdefault("rdates_utc", []).append(
            _local_dt(start[:-1]))
    else:
        obs_cur.setdefault("rdates", []).append(_local_dt(start))
    return obs_cur


def _parse_tz_rrule(s: str) -> dict:
    """The yearly BYMONTH+BYDAY rule (the only form real tz exports
    use: 'last Sunday of March' and friends).  Anything else raises —
    the caller marks the TZID unresolvable rather than approximating
    a recurrence it can't honor."""
    import re

    parts: dict[str, str] = {}
    for p in s.strip().split(";"):
        if "=" in p:
            k, v = p.split("=", 1)
            parts[k.upper()] = v
    if parts.get("FREQ", "").upper() != "YEARLY":
        raise IcsVcfError("tz RRULE is not FREQ=YEARLY")
    extra = set(parts) - {"FREQ", "BYMONTH", "BYDAY", "UNTIL",
                          "WKST", "INTERVAL"}
    if extra:
        raise IcsVcfError(f"tz RRULE parts beyond the yearly "
                          f"BYMONTH+BYDAY form: {sorted(extra)}")
    if parts.get("INTERVAL", "1") != "1":
        raise IcsVcfError("tz RRULE with INTERVAL != 1")
    try:
        month = int(parts["BYMONTH"])
    except (KeyError, ValueError):
        raise IcsVcfError("tz RRULE without a single BYMONTH") from None
    if not 1 <= month <= 12:
        raise IcsVcfError(f"tz RRULE BYMONTH out of range: {month}")
    m = re.fullmatch(r"(-?[1-5])(MO|TU|WE|TH|FR|SA|SU)",
                     parts.get("BYDAY", "").upper())
    if m is None:
        # a bare weekday ('every Sunday') is not a tz transition rule
        raise IcsVcfError(
            f"tz RRULE BYDAY is not ±nWD: {parts.get('BYDAY')!r}")
    until = None
    until_utc = False
    if "UNTIL" in parts:
        # UNTIL on tz rules is UTC when Z-suffixed (RFC 5545
        # §3.3.10); r15: a UTC UNTIL is compared against
        # onset - TZOFFSETFROM in the onset walk instead of naively
        # against the local onset (the naive compare was already
        # exact for real rule sets — transitions sit hours from the
        # cutoff — this makes it exact for ALL rule sets)
        raw = parts["UNTIL"]
        until_utc = raw[-1:] in ("Z", "z")
        until = _local_dt(raw.rstrip("Zz"))
    return {"month": month, "weekday": _WEEKDAYS[m.group(2)],
            "n": int(m.group(1)), "until": until,
            "until_utc": until_utc}


def _nth_weekday_day(year: int, month: int, weekday: int,
                     n: int) -> int | None:
    """Day-of-month of the nth <weekday> (n<0 = from the end), or
    None when the month has no such occurrence."""
    import calendar
    import datetime as dt

    ndays = calendar.monthrange(year, month)[1]
    if n > 0:
        first = dt.date(year, month, 1).weekday()
        day = 1 + (weekday - first) % 7 + 7 * (n - 1)
        return day if day <= ndays else None
    last = dt.date(year, month, ndays).weekday()
    day = ndays - (last - weekday) % 7 + 7 * (n + 1)
    return day if day >= 1 else None


def _observance_onsets(ob: dict, years) -> list:
    """Local onset datetimes (in the observance's TZOFFSETFROM clock)
    for the given years.  A one-shot observance (no RRULE) is a
    single historical transition — its onset always counts, which is
    exactly how fixed-offset zones (one STANDARD block dated 1970)
    cover the present."""
    import datetime as dt

    d0 = ob["dtstart"]
    rr = ob["rrule"]
    if rr is None:
        out = [d0]
    else:
        out = []
        for y in years:
            if y < d0.year:
                continue
            day = _nth_weekday_day(y, rr["month"], rr["weekday"],
                                   rr["n"])
            if day is None:
                continue
            onset = dt.datetime(y, rr["month"], day,
                                d0.hour, d0.minute, d0.second)
            if onset < d0:
                continue
            if rr["until"] is not None:
                # Z-suffixed UNTIL is UTC: compare the onset's UTC
                # instant (onset - TZOFFSETFROM); bare UNTIL is local
                cand = onset
                if rr.get("until_utc"):
                    cand = onset - dt.timedelta(
                        seconds=ob.get("from") or 0)
                if cand > rr["until"]:
                    continue
            out.append(onset)
    # RDATE: enumerated extra one-off transitions; EXDATE: onsets the
    # export disclaims (both in the observance's local clock).
    # PERIOD-valued RDATE starts land here too — local starts
    # directly, Z-suffixed starts through TZOFFSETFROM (the onset's
    # pre-transition clock)
    out.extend(ob.get("rdates", ()))
    out.extend(u + dt.timedelta(seconds=ob.get("from") or 0)
               for u in ob.get("rdates_utc", ()))
    ex = set(ob.get("exdates", ()))
    return [o for o in out if o not in ex] if ex else out


def _resolve_tzid(tzdefs: dict, tzid: str, local) -> int | None:
    """UTC epoch ms of a TZID-localized naive datetime, or None when
    the calendar's embedded VTIMEZONEs can't resolve it exactly.

    Segments are built from each observance's onsets around the
    target year (onset_utc = onset_local - TZOFFSETFROM); the target
    local time is matched against each segment's local coverage
    window in onset order, so fall-back ambiguity resolves to the
    EARLIER segment (pre-transition offset, zoneinfo fold=0) and a
    spring-forward gap matches nothing → null."""
    import datetime as dt

    tz = tzdefs.get(tzid)
    if tz is None or tz["bad"] or not tz["obs"]:
        return None
    # clamp so fuzzed year-0001/9999 locals can't push datetime()
    # out of range inside the onset walk
    years = tuple(y for y in (local.year - 1, local.year,
                              local.year + 1) if 1 <= y <= 9999)
    # the whole walk is guarded: year-0001/9999 observance dates
    # under a near-day offset overflow datetime arithmetic (onset
    # minus TZOFFSETFROM, sentinel plus offset) — any such edge is
    # an unresolvable timezone, not a task-killing exception
    try:
        segs: list[tuple] = []
        first = None  # (earliest onset utc, its TZOFFSETFROM)
        for ob in tz["obs"]:
            for onset_local in _observance_onsets(ob, years):
                onset_utc = onset_local - dt.timedelta(
                    seconds=ob["from"])
                segs.append((onset_utc, ob["to"]))
                if first is None or onset_utc < first[0]:
                    first = (onset_utc, ob["from"])
        if not segs:
            return None
        segs.sort(key=lambda t: t[0])
        # prehistory: the offset in force before the first transition
        # is that transition's TZOFFSETFROM
        bounded = [(dt.datetime(1, 1, 2), first[1])] + segs
        far = dt.datetime.max - dt.timedelta(days=2)
        for i, (start_utc, off) in enumerate(bounded):
            end_utc = bounded[i + 1][0] if i + 1 < len(bounded) \
                else far
            delta = dt.timedelta(seconds=off)
            if start_utc + delta <= local < end_utc + delta:
                utc = (local - delta).replace(tzinfo=dt.timezone.utc)
                return int(utc.timestamp() * 1000)
    except (ValueError, OverflowError, OSError):
        return None
    return None  # local time inside a spring-forward gap


_EVENT_PROPS = ("UID", "SUMMARY", "DESCRIPTION", "LOCATION",
                "ORGANIZER", "STATUS")


def parse_ics(data: bytes) -> dict:
    """One iCalendar payload → ``{"events": [...], "n_components"}``;
    VEVENTs carry the prose properties unescaped plus dtstart/dtend
    raw strings and UTC epochs where unambiguous (Z, VALUE=DATE, or
    a TZID an embedded VTIMEZONE resolves).  TZID epochs are resolved
    AFTER the walk because RFC 5545 lets the VTIMEZONE appear after
    the VEVENTs that reference it.  A malformed VTIMEZONE poisons
    only its own TZID (null epochs, raw strings kept) — it does not
    fail the calendar."""
    lines = unfold_lines(_decode(data))
    if not lines or lines[0].strip().upper() != "BEGIN:VCALENDAR":
        raise IcsVcfError("payload does not open with BEGIN:VCALENDAR")
    events: list[dict] = []
    stack: list[str] = []
    cur: dict | None = None
    tzdefs: dict[str, dict] = {}
    tz_cur: dict | None = None
    obs_cur: dict | None = None
    deferred: list[tuple] = []  # (event, field, local_dt, tzid)
    n_components = 0
    for line in lines:
        name, params, value = _parse_content_line(line)
        if name == "BEGIN":
            comp = value.strip().upper()
            stack.append(comp)
            if comp != "VCALENDAR":
                n_components += 1
            if comp == "VEVENT":
                if cur is not None:
                    raise IcsVcfError("nested VEVENT")
                cur = {"uid": None, "summary": None,
                       "description": None, "location": None,
                       "organizer": None, "status": None,
                       "dtstart": None, "dtend": None,
                       "start_ms": None, "end_ms": None}
            elif comp == "VTIMEZONE":
                tz_cur = {"tzid": None, "obs": [], "bad": False}
            elif comp in ("STANDARD", "DAYLIGHT") and tz_cur is not None:
                obs_cur = {"kind": comp, "dtstart": None,
                           "from": None, "to": None, "rrule": None}
            continue
        if name == "END":
            comp = value.strip().upper()
            if not stack or stack[-1] != comp:
                raise IcsVcfError(
                    f"END:{comp} does not match open component")
            stack.pop()
            if comp == "VEVENT":
                events.append(cur)
                cur = None
            elif comp in ("STANDARD", "DAYLIGHT") and tz_cur is not None:
                if obs_cur is None or None in (
                        obs_cur["dtstart"], obs_cur["from"],
                        obs_cur["to"]):
                    tz_cur["bad"] = True  # incomplete observance
                else:
                    tz_cur["obs"].append(obs_cur)
                obs_cur = None
            elif comp == "VTIMEZONE":
                if tz_cur is not None and tz_cur["tzid"]:
                    tzdefs[tz_cur["tzid"]] = tz_cur
                tz_cur = None
            continue
        if obs_cur is not None and stack and stack[-1] in (
                "STANDARD", "DAYLIGHT"):
            try:
                if name == "DTSTART":
                    obs_cur["dtstart"] = _local_dt(value)
                elif name == "TZOFFSETFROM":
                    obs_cur["from"] = _parse_utc_offset(value)
                elif name == "TZOFFSETTO":
                    obs_cur["to"] = _parse_utc_offset(value)
                elif name == "RRULE":
                    obs_cur["rrule"] = _parse_tz_rrule(value)
                elif name == "RDATE":
                    # enumerated EXTRA transitions (historical
                    # one-offs real exports carry alongside the
                    # rule).  r15: VALUE=PERIOD is honored — a
                    # period's START is the onset (the duration is
                    # irrelevant to a transition enumeration); the
                    # end half must still parse as a date-time or an
                    # ISO duration, else the TZID goes unresolvable
                    vkind = params.get("VALUE", "DATE-TIME")
                    if vkind == "PERIOD":
                        for v in value.split(","):
                            obs_cur = _tz_period_rdate(obs_cur, v)
                    elif vkind in ("DATE-TIME", "DATE"):
                        obs_cur.setdefault("rdates", []).extend(
                            _local_dt(v) for v in value.split(","))
                    else:
                        raise IcsVcfError(
                            f"tz RDATE VALUE={params['VALUE']}")
                elif name == "EXDATE":
                    obs_cur.setdefault("exdates", []).extend(
                        _local_dt(v) for v in value.split(","))
            except IcsVcfError:
                tz_cur["bad"] = True
            continue
        if tz_cur is not None and stack and stack[-1] == "VTIMEZONE":
            if name == "TZID":
                tz_cur["tzid"] = value.strip()
            continue
        if cur is not None and len(stack) and stack[-1] == "VEVENT":
            if name in _EVENT_PROPS:
                cur[name.lower()] = _unescape(value)
            elif name in ("DTSTART", "DTEND"):
                raw = value.strip()
                field = "start_ms" if name == "DTSTART" else "end_ms"
                cur["dtstart" if name == "DTSTART" else "dtend"] = raw
                tzid = params.get("TZID")
                if tzid and not raw.endswith("Z") and \
                        params.get("VALUE") != "DATE":
                    try:
                        local = _local_dt(raw)
                    except IcsVcfError:
                        local = None
                    if local is not None:
                        deferred.append((cur, field, local, tzid))
                else:
                    cur[field] = _dt_ms(value, params)
    if stack:
        raise IcsVcfError(f"unclosed component {stack[-1]}")
    for ev, field, local, tzid in deferred:
        ev[field] = _resolve_tzid(tzdefs, tzid, local)
    return {"events": events, "n_components": n_components}


def parse_vcf(data: bytes) -> dict:
    """One vCard payload (possibly many concatenated cards) →
    ``{"cards": [{fn, org, title, emails, tels}]}``."""
    lines = unfold_lines(_decode(data))
    if not lines or not lines[0].upper().startswith("BEGIN:VCARD"):
        raise IcsVcfError("payload does not open with BEGIN:VCARD")
    cards: list[dict] = []
    cur: dict | None = None
    for line in lines:
        name, _params, value = _parse_content_line(line)
        if name == "BEGIN" and value.strip().upper() == "VCARD":
            if cur is not None:
                raise IcsVcfError("nested VCARD")
            cur = {"fn": None, "org": None, "title": None,
                   "emails": [], "tels": []}
            continue
        if name == "END" and value.strip().upper() == "VCARD":
            if cur is None:
                raise IcsVcfError("END:VCARD without BEGIN")
            cards.append(cur)
            cur = None
            continue
        if cur is None:
            raise IcsVcfError(f"property {name} outside VCARD")
        if name == "FN":
            cur["fn"] = _unescape(value)
        elif name == "ORG":
            # ORG is compound (org;unit;unit) — split on the first
            # UNESCAPED semicolon only ("\\;" is a literal semicolon)
            i, n = 0, len(value)
            while i < n:
                if value[i] == "\\":
                    i += 2
                    continue
                if value[i] == ";":
                    break
                i += 1
            cur["org"] = _unescape(value[:i])
        elif name == "TITLE":
            cur["title"] = _unescape(value)
        elif name == "EMAIL":
            cur["emails"].append(value.strip())
        elif name == "TEL":
            cur["tels"].append(value.strip())
    if cur is not None:
        raise IcsVcfError("unterminated VCARD")
    if not cards:
        raise IcsVcfError("no VCARD components")
    return {"cards": cards}


# ------------------------------------------------------------ writers

def _escape(v: str) -> str:
    return (v.replace("\\", "\\\\").replace(",", "\\,")
            .replace(";", "\\;").replace("\n", "\\n"))


def _fold(line: str, limit: int = 75) -> str:
    out, cur = [], line
    while len(cur.encode("utf-8")) > limit:
        # cut at a char boundary under the octet limit
        cut = limit
        while cut > 1 and len(cur[:cut].encode("utf-8")) > limit:
            cut -= 1
        out.append(cur[:cut])
        cur = " " + cur[cut:]
    out.append(cur)
    return "\r\n".join(out)


def encode_ics(events: list[dict],
               timezones: list[dict] | None = None) -> bytes:
    """Fixture writer: RFC 5545 layout with folding + escaping,
    independent of the parser.  ``timezones`` entries are
    ``{"tzid", "observances": [{"kind", "dtstart", "from", "to",
    "rrule"?}]}`` (offsets/rules as raw RFC strings); events may set
    ``dtstart_tzid`` / ``dtend_tzid`` to emit ``;TZID=`` params."""
    lines = ["BEGIN:VCALENDAR", "VERSION:2.0",
             "PRODID:-//verified-sources//EN"]
    for tz in timezones or []:
        lines.append("BEGIN:VTIMEZONE")
        lines.append(f"TZID:{tz['tzid']}")
        for ob in tz["observances"]:
            lines.append(f"BEGIN:{ob['kind']}")
            lines.append(f"DTSTART:{ob['dtstart']}")
            lines.append(f"TZOFFSETFROM:{ob['from']}")
            lines.append(f"TZOFFSETTO:{ob['to']}")
            if ob.get("rrule"):
                lines.append(f"RRULE:{ob['rrule']}")
            lines.append(f"END:{ob['kind']}")
        lines.append("END:VTIMEZONE")
    for ev in events:
        lines.append("BEGIN:VEVENT")
        for key in ("uid", "summary", "description", "location",
                    "organizer", "status"):
            if ev.get(key) is not None:
                lines.append(_fold(
                    f"{key.upper()}:{_escape(ev[key])}"))
        if ev.get("dtstart"):
            p = (f";TZID={ev['dtstart_tzid']}"
                 if ev.get("dtstart_tzid") else "")
            lines.append(f"DTSTART{p}:{ev['dtstart']}")
        if ev.get("dtend"):
            p = (f";TZID={ev['dtend_tzid']}"
                 if ev.get("dtend_tzid") else "")
            lines.append(f"DTEND{p}:{ev['dtend']}")
        lines.append("END:VEVENT")
    lines.append("END:VCALENDAR")
    return ("\r\n".join(lines) + "\r\n").encode()


def encode_vcf(cards: list[dict]) -> bytes:
    lines = []
    for c in cards:
        lines += ["BEGIN:VCARD", "VERSION:4.0"]
        if c.get("fn") is not None:
            lines.append(_fold(f"FN:{_escape(c['fn'])}"))
        if c.get("org") is not None:
            lines.append(_fold(f"ORG:{_escape(c['org'])}"))
        if c.get("title") is not None:
            lines.append(_fold(f"TITLE:{_escape(c['title'])}"))
        for e in c.get("emails", ()):
            lines.append(f"EMAIL:{e}")
        for t in c.get("tels", ()):
            lines.append(f"TEL;TYPE=work:{t}")
        lines.append("END:VCARD")
    return ("\r\n".join(lines) + "\r\n").encode()


# ---------------------------------------------------------- Spark ops

ICS_EVENTS_SCHEMA = (
    "doc_id long, decoded_ok boolean, event_idx int, n_events int, "
    "uid string, summary string, description string, location string, "
    "organizer string, status string, dtstart string, dtend string, "
    "start_ms long, end_ms long"
)


def ics_events(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched VEVENT explosion: one row per event; malformed
    calendars isolate as ``decoded_ok=false`` rows."""
    def run(_id, payload):
        _id = int(_id)
        try:
            out = parse_ics(bytes(payload))
            evs = out["events"]
            if not evs:
                raise IcsVcfError("calendar with no VEVENTs")
            for i, ev in enumerate(evs):
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "event_idx": i, "n_events": len(evs),
                    **ev}
        except IcsVcfError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, ICS_EVENTS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out


VCF_CARDS_SCHEMA = (
    "doc_id long, decoded_ok boolean, card_idx int, n_cards int, "
    "fn string, org string, title string, emails string, tels string"
)


def vcf_cards(df, id_col: str = "doc_id", asset_col: str = "asset"):
    """Arrow-batched vCard explosion: one row per card, emails/tels
    semicolon-joined in file order."""
    def run(_id, payload):
        _id = int(_id)
        try:
            cards = parse_vcf(bytes(payload))["cards"]
            for i, c in enumerate(cards):
                yield {
                    "doc_id": _id, "decoded_ok": True,
                    "card_idx": i, "n_cards": len(cards),
                    "fn": c["fn"], "org": c["org"],
                    "title": c["title"],
                    "emails": ";".join(c["emails"]),
                    "tels": ";".join(c["tels"])}
        except IcsVcfError:
            yield {"doc_id": _id, "decoded_ok": False}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(asset_col)),
        run, VCF_CARDS_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
