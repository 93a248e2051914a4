"""Encoding-damage repair and Unicode canonicalization — the
ftfy-shaped cleanup pass every LLM data pipeline runs before dedup.

Real crawls and document drops are full of MOJIBAKE: UTF-8 bytes that
some upstream system decoded as Latin-1/cp1252 ("café" → "cafÃ©",
sometimes twice), plus NFD-decomposed accents from macOS filenames and
APIs, C0 control garbage from binary spillover, and a zoo of Unicode
spaces.  Left unrepaired, every damaged variant of a document hashes
differently — dedup misses it, lang-id misfires, and the garble trains
into the model.

``fix_mojibake`` reverses the classic damage DETERMINISTICALLY: a
string is re-encoded through cp1252 (with the five unmapped bytes
falling back to their Latin-1 values — exactly how browsers and most
mis-decoders behave) and strictly re-decoded as UTF-8; the repair is
accepted only when the whole round trip succeeds AND strictly shortens
the text (UTF-8 multi-byte sequences always collapse), which makes
false positives structurally impossible for text that was never
mojibake — "Ã" followed by a non-continuation byte fails the strict
decode and the string passes through untouched.  Two rounds bounded:
double-encoded damage ("cafÃƒÂ©") is common, triple is not.

``canonicalize_text`` applies NFC (composed accents — the form UTF-8
corpora standardize on), maps the Unicode space zoo (NBSP, en/em/thin
spaces, ideographic space, zero-width chars) to ASCII space or
nothing, strips C0/C1 controls except tab/newline, and collapses
``\\r\\n``.

Both are exposed as one Arrow-batched operator ``fix_text`` (repair →
canonicalize, flags recording WHAT was fixed per row — the audit
column curation decisions need).  Reference analogue: the reference
normalizes text in its data_processing helpers (e.g.
sources/matomo/helpers/data_processing.py) before loading; this is the
same hygiene layer at corpus scale.
"""

from __future__ import annotations

import re
import unicodedata

from verified_sources_spark.boundary import map_rows

__all__ = [
    "fix_mojibake", "canonicalize_text", "fix_text", "FIX_TEXT_SCHEMA",
    "detect_bare_charset", "decode_bare_text",
]

# cp1252's five unmapped bytes fall back to Latin-1 (C1 controls):
# how real mis-decoders materialize them
_CP1252_FALLBACK = {0x81: "\x81", 0x8D: "\x8d", 0x8F: "\x8f",
                    0x90: "\x90", 0x9D: "\x9d"}
_TO_BYTES = {}
for b in range(0x80, 0xA0):
    try:
        _TO_BYTES[bytes([b]).decode("cp1252")] = b
    except UnicodeDecodeError:
        pass
for b, ch in _CP1252_FALLBACK.items():
    _TO_BYTES[ch] = b


def _encode_cp1252ish(s: str) -> bytes | None:
    """The inverse of a cp1252-with-latin1-fallback mis-decode, or
    None if some char has no single-byte origin."""
    out = bytearray()
    for ch in s:
        cp = ord(ch)
        if cp <= 0xFF:
            # Latin-1 identity: covers ASCII, the A0-FF block AND the
            # C1 range a latin-1 mis-decoder materializes for 80-9F
            out.append(cp)
        elif ch in _TO_BYTES:
            # cp1252 printables (€ ‚ " … – — ™ ...) map back to 80-9F
            out.append(_TO_BYTES[ch])
        else:
            return None
    return bytes(out)


# Bare-text charset detection: a .txt/.csv inside a zip or a mail has
# NO transport metadata (no HTTP header, no <meta>, usually no BOM) —
# the cp1252/GB18030/Shift_JIS share of legacy archives is real and a
# UTF-8-only door silently drops it as "binary".  Strict-decode
# probing alone cannot decide (gb18030 strictly accepts nearly every
# CJK byte stream; cp1252 accepts nearly everything 8-bit), so each
# successful strict decode is SCORED for plausibility and the best
# score wins, probe order breaking ties.  The mojibake signatures the
# scorer punishes are the same ones fix_mojibake reverses: C1
# controls, dense runs of accented Latin (ÖÐÎÄ…), halfwidth katakana,
# private-use/rare-extension ideographs.
_PROBE_ORDER = ("utf-8", "shift_jis", "euc_jp", "big5", "gb18030",
                "euc_kr", "cp1252", "cp1253", "cp1251", "koi8_r")
# Probe-order notes beyond the CJK story below: euc_kr sits after the
# other CJK codecs (its hangul output is discriminated by the
# common-syllable prior, not by order); cp1253 (Greek) probes BEFORE
# cp1251 because Russian text virtually always carries 0xFF ('я') or
# 0xD2 ('Т'), both UNDEFINED in cp1253 — so Russian strict-fails the
# Greek probe while Greek would strictly (mis)decode under cp1251;
# koi8_r (round 14) probes LAST: it defines all 256 byte values so it
# strictly accepts anything — it can only win on SCORE, which the
# Cyrillic letter-frequency prior below decides (koi8-r and cp1251
# both map 8-bit bytes into Cyrillic, but each reads the other's
# bytes as a frequency-breaking letter permutation: measured hit
# rates on the common-letter set are 0.54 genuine vs 0.19-0.38
# wrong-codec in both directions, so the 1.5x bonus separates them
# deterministically — the tiny language model the r13 notes said
# this needed).

# Frequency prior for the classic GB-vs-EUC-vs-Big5 ambiguity: GBK and
# EUC-JP/Big5 byte areas overlap enough that short genuine text in one
# often strictly decodes under the others — as valid but effectively
# RANDOM ideographs.  A compact set of high-frequency characters
# (simplified Chinese + common Japanese kanji incl. their traditional
# forms + traditional Chinese) gives genuine decodes a bonus random
# garble rarely collects — the same distribution idea chardet's CJK
# probers use, shrunk to a few hundred chars.
_COMMON_CJK = frozenset(
    "的一是不了在人有我他这个们中来上大为和国地到以说时要就出会可也"
    "你对生能而子那得于着下自之年过发后作里用道行所然家种事成方多经"
    "么去法学如都同现当没动面起看定天分还进好小部其些主样理心她本前"
    "开但因只从想实日军者意无力它与长把机十民第公此已工使情明性知全"
    "三又关点正业外将两高间由问很最重并物手应战向头文体政美相见被利"
    "什二等产或新己制身果加西斯月话合回特代内信表化老给世位次度门任"
    "常先海通教儿原东声提立及比员解水名真论处走义各入几口认条平系气"
    "题活尔更别打女变四神总何电数安少报才结反受目太量再感建务做接必"
    "场件计管期市直德资命山金指克许统区保至队形社便空决治展马科司五"
    "基眼书非则听白却界达光放强即像难且权思王象完设式色路记南品住告"
    "类求据程北边死张该交规万取拉格望觉术领共确传师观清今切院让识候"
    "带导争运笑飞风步改收根干造言联持组每济车亲极林服快办议往元英士"
    "证近失转夫令准布始怎呢存未远叫台单影具罗字爱击流备兵连调深商算"
    "质团集百需价花党华城石级整府离况亚请技际约示复病息究线"
    "語学気読買売駅円話時間電車新聞雑誌仕事会社帰国際関係実変対戦権"
    "験漢字覚難簡単銀荷物預質問題答案内観光旅館温泉写真撮影体調薬飲"
    "食堂料理野菜魚肉飯茶開閉広深遅速遠近強弱軽重高低長短私僕彼女君"
    "発表経済政治選挙議員歳月曜何処今日明昨夜朝昼晩週末毎度良悪新古"
    "早遅多少"
    "的是不我你他們這個中來上大為和國地到以說時要就會可也對生能而子"
    "那得於著下自之年過發後作裡用道行所然家種事成方多經麼去法學如都"
    "同現當沒動面起看定天分還進好小部其些主樣理心她本前開但因只從想"
    "實體讓關點業務員長發電話語言讀書寫字聽說城市人口北京上海臺灣測"
    "試範例文字段繁簡")

# Common-hangul prior: the same trick for Korean — CJK bytes
# mis-decoded as euc_kr land on effectively RANDOM syllables (11 172
# possible), while genuine Korean concentrates on a small frequent
# set (particles, copulas, common nouns); ~0.7% random hit rate vs
# ~50%+ genuine.
_COMMON_HANGUL = frozenset(
    "이다는을에가하고지의서로부사스트인시대그내우주어무엇도한국말글"
    "년월일자요니까습만네저것수있없되었면같보기름잘못안와과들때문비"
    "제공용정보검색결과페지쓰린아버학생선교회경제문화역국정부대통령"
    "름성남여동서울산강물불빛길집방밥먹살알모두더많적크작높낮새옛")

# Letter-frequency priors for the whole-script single-byte pages: the
# top Russian letters (~58% of genuine text) and top Greek letters
# (~70%).  cp1251↔koi8-r read each other's bytes as a letter
# PERMUTATION, so the common-set hit rate collapses under the wrong
# codec (0.54 genuine vs 0.19-0.38 permuted, measured) — same idea as
# the CJK/hangul priors above, eight letters instead of hundreds of
# ideographs.  Lookup is case-folded (ALL-CAPS pages stay genuine).
_COMMON_CYRILLIC = frozenset("оеаинтср")
_COMMON_GREEK = frozenset("ατοιενσςηυ")


def _plausibility(text: str) -> float:
    """Per-char plausibility in [-2, 1]: genuine prose in any of the
    probed charsets scores near 1; a wrong-codec decode scores low
    through its mojibake signature classes."""
    if not text:
        return 0.0
    good, prev_latin = 0.0, False
    n = len(text)
    # Greek/Cyrillic are WHOLE-script languages: genuine pages are
    # majority-script, while a Western page mis-decoded as cp1253/
    # cp1251 turns only its accent clusters into Greek/Cyrillic
    # ('fόr', 'δφόί' from 'äöüß').  The global fraction separates the
    # two where per-char neighborhoods cannot (an umlaut CLUSTER
    # looks exactly like a short Greek word).
    n_script = sum(1 for ch in text if 0x370 <= ord(ch) <= 0x4FF)
    script_genuine = n_script >= 0.25 * n
    # the letter-frequency BONUS needs a truly majority-script page:
    # at the 25% floor a single 'ι' in 'café'-as-cp1253 would collect
    # it and outscore the genuine cp1252 decode (found by the warc
    # regression test) — real Russian/Greek pages are >50% script
    script_bonus = n_script >= 0.5 * n
    for i, ch in enumerate(text):
        o = ord(ch)
        latin = False
        if o in (9, 10, 13) or 0x20 <= o < 0x7F:
            good += 1
        elif 0x80 <= o <= 0x9F:
            good -= 2  # C1 controls: never genuine text
        elif 0x370 <= o <= 0x4FF:
            if script_bonus:
                lo = ch.lower()
                good += 1.5 if (lo in _COMMON_CYRILLIC
                                or lo in _COMMON_GREEK) else 1
            elif script_genuine:
                good += 1
            else:
                good += 0.2
        elif 0x2500 <= o <= 0x25FF:
            # box drawing / pseudo-graphics: koi8-r's 0x80-0xBF —
            # binary noise decodes there, genuine prose does not
            good -= 0.5
        elif 0xA0 <= o <= 0x36F or 0x500 <= o <= 0x5FF:
            # accented Latin / Hebrew: full credit only OUTSIDE dense
            # non-ASCII runs — genuine Western text is mostly ASCII
            # with isolated accents, while CJK bytes mis-decoded as
            # cp1252 are wall-to-wall accents
            latin = True
            nxt = ord(text[i + 1]) if i + 1 < n else 0x20
            dense = prev_latin or (0xA0 <= nxt <= 0x36F)
            good += 0.2 if dense else 1
        elif 0x4E00 <= o <= 0x9FFF:
            # ideographs: high-frequency chars collect the prior bonus
            good += 1.5 if ch in _COMMON_CJK else 1
        elif 0xAC00 <= o <= 0xD7A3:
            # hangul: the common-syllable prior separates genuine
            # Korean from CJK-bytes-as-euc_kr garble
            good += 1.5 if ch in _COMMON_HANGUL else 1
        elif 0x3000 <= o <= 0x30FF or 0xFF01 <= o <= 0xFF60:
            good += 1  # CJK punct/kana, fullwidth forms
        elif 0xFF61 <= o <= 0xFF9F:
            good -= 1  # halfwidth katakana: Shift_JIS-as-other garble
        elif 0xE000 <= o <= 0xF8FF or 0x3400 <= o <= 0x4DBF:
            good -= 1  # PUA / CJK Ext-A: wrong-CJK-codec signature
        elif o < 9 or o == 0x7F or 0x0E <= o <= 0x1F:
            good -= 2  # control garbage
        else:
            good += 0.5  # other assigned scripts: neutral
        prev_latin = latin
    return good / n


def detect_bare_charset(
    data: bytes, window: int = 65536, min_score: float = 0.65,
) -> tuple[str, str] | None:
    """(codec, source) for a bare text payload, or ``None`` when no
    probe clears the plausibility gate (i.e. the payload is binary,
    not text in an unprobed charset).  ``source`` ∈ {'bom', 'utf-8',
    'probe'}.  BOMs beat everything; strict UTF-8 is authoritative
    (random binary virtually never validates); the legacy set
    (Shift_JIS, EUC-JP, Big5, GB18030, EUC-KR, cp1252, cp1253
    Greek, cp1251 Cyrillic) is strict-decoded and
    scored, best score winning with probe order breaking ties —
    GB18030 probes after the other CJK codecs because it strictly
    accepts nearly any CJK byte stream, and cp1252 last because it
    accepts nearly anything 8-bit.  NUL bytes short-circuit to None
    (the classic text/binary discriminator; UTF-16 without a BOM is
    not probed).  koi8_r probes last and wins only on the Cyrillic
    letter-frequency prior (it strictly accepts every byte).  A
    multibyte char straddling the probe window is handled by
    incremental decoding with ``final=False``."""
    import codecs as _codecs

    if not data:
        return None
    if data[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig", "bom"
    if data[:4] in (b"\xff\xfe\x00\x00", b"\x00\x00\xfe\xff"):
        return "utf-32", "bom"
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16", "bom"
    head = data[:window]
    if b"\x00" in head:
        return None
    best: tuple[float, int] | None = None
    best_codec = None
    for rank, codec in enumerate(_PROBE_ORDER):
        dec = _codecs.getincrementaldecoder(codec)("strict")
        try:
            text = dec.decode(head, final=len(data) <= window)
        except (UnicodeDecodeError, ValueError):
            continue
        if codec == "utf-8":
            return "utf-8", "utf-8"
        score = _plausibility(text)
        if score >= min_score and (best is None or score > best[0]):
            best, best_codec = (score, rank), codec
    if best_codec is None:
        return None
    return best_codec, "probe"


def decode_bare_text(data: bytes) -> tuple[str, str, bool] | None:
    """(text, charset, decode_clean) for a bare text payload, or
    ``None`` for binary — the no-transport-metadata sibling of
    warc.decode_body.  ``decode_clean`` is False when the full payload
    did not decode strictly under the charset the probe window
    detected (tail decoded with errors='replace' instead), so corpus
    prep can quarantine suspect files instead of ingesting garble."""
    hit = detect_bare_charset(data)
    if hit is None:
        return None
    codec, _src = hit
    try:
        return data.decode(codec), codec, True
    except (UnicodeDecodeError, ValueError):
        return data.decode(codec, errors="replace"), codec, False


def fix_mojibake(s: str, max_rounds: int = 2) -> tuple[str, int]:
    """(repaired text, number of repair rounds applied).  Each round
    reverses one layer of UTF-8-read-as-cp1252/Latin-1 damage; a round
    is applied only when the strict re-decode succeeds and shortens
    the string, so undamaged text is a fixed point."""
    rounds = 0
    for _ in range(max_rounds):
        raw = _encode_cp1252ish(s)
        if raw is None:
            break
        try:
            cand = raw.decode("utf-8")
        except UnicodeDecodeError:
            break
        if len(cand) >= len(s):
            break
        s = cand
        rounds += 1
    return s, rounds


_SPACE_MAP = {
    0x00A0: " ",   # NBSP
    0x1680: " ",
    0x2028: "\n", 0x2029: "\n",       # line/paragraph separators
    0x202F: " ", 0x205F: " ", 0x3000: " ",
    0x200B: None, 0x200C: None, 0x200D: None,  # zero-widths drop
    0xFEFF: None,                               # stray BOM drops
}
for _cp in range(0x2000, 0x200B):  # en quad .. hair space
    _SPACE_MAP[_cp] = " "

_CONTROLS = re.compile(
    "[" + "".join(chr(c) for c in list(range(0x00, 0x09))
                  + [0x0B, 0x0C] + list(range(0x0E, 0x20))
                  + [0x7F] + list(range(0x80, 0xA0))) + "]")


def canonicalize_text(s: str) -> tuple[str, bool]:
    """(canonical text, changed?): NFC, space-zoo mapping, CRLF → LF,
    C0/C1 control strip (tab/newline kept)."""
    out = unicodedata.normalize("NFC", s)
    out = out.replace("\r\n", "\n").replace("\r", "\n")
    out = out.translate(_SPACE_MAP)
    out = _CONTROLS.sub("", out)
    return out, out != s


FIX_TEXT_SCHEMA = ("doc_id long, mojibake_rounds int, "
                   "canonicalized boolean, text string")


def fix_text(df, id_col: str = "doc_id", text_col: str = "text"):
    """Arrow-batched repair + canonicalization: one row per input with
    the cleaned text and audit flags (how many mojibake layers were
    reversed; whether canonicalization changed anything).  Null text
    passes through as null."""
    def run(_id, s):
        if s is None:
            yield {"doc_id": _id, "mojibake_rounds": 0, "canonicalized": False}
            return
        repaired, rounds = fix_mojibake(str(s))
        canon, changed = canonicalize_text(repaired)
        yield {"doc_id": _id, "mojibake_rounds": rounds,
               "canonicalized": changed, "text": canon}

    from pyspark.sql import functions as F

    out = map_rows(
        df.select(F.col(id_col), F.col(text_col)),
        run, FIX_TEXT_SCHEMA)
    if id_col != "doc_id":
        out = out.withColumnRenamed("doc_id", id_col)
    return out
