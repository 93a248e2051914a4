"""Email ingestion (llm/email_ingest.py): EML/MIME decode, mbox
splitting with From-stuffing, charset + transfer-encoding handling,
and the Spark operator."""

from __future__ import annotations

import pytest

from verified_sources_spark.llm.email_ingest import (
    EmailError,
    email_extract,
    encode_eml,
    encode_mbox,
    iter_mbox,
    parse_eml,
)

BODY = ("Hello café — line one.\n"
        "From here it looks fine.\n"
        ">From stuffed-looking line.\n")


def test_singlepart_qp_roundtrip():
    out = parse_eml(encode_eml("Re: naïve subject", BODY))
    assert out["subject"] == "Re: naïve subject"
    assert out["from_addr"] == "sender@example.com"
    assert out["n_parts"] == 1
    assert out["body_source"] == "plain"
    assert out["text"] == BODY


def test_multipart_prefers_plain():
    out = parse_eml(encode_eml(
        "s", BODY, html_body="<p>Hello <b>café</b></p>"))
    assert out["n_parts"] == 2
    assert out["body_source"] == "plain"
    assert out["text"] == BODY


def test_base64_and_latin1():
    assert parse_eml(encode_eml("b", BODY, base64_body=True))["text"] == BODY
    b2 = "Hola café ñandú\n"
    out = parse_eml(encode_eml("l", b2, charset="latin-1"))
    assert out["text"] == b2


def test_html_only_falls_back_through_warc_extractor():
    eml = (b"From: a@b.c\r\nSubject: h\r\nMIME-Version: 1.0\r\n"
           b"Content-Type: text/html; charset=utf-8\r\n\r\n"
           b"<html><body><p>only html</p><script>drop()</script>"
           b"</body></html>")
    out = parse_eml(eml)
    assert out["body_source"] == "html"
    assert out["text"] == "only html"


def test_mbox_roundtrip_with_stuffing():
    msgs_in = [encode_eml(f"msg {i}", BODY) for i in range(3)]
    data = encode_mbox(msgs_in)
    msgs = list(iter_mbox(data))
    assert len(msgs) == 3
    for i, m in enumerate(msgs):
        out = parse_eml(m)
        assert out["subject"] == f"msg {i}"
        assert out["text"] == BODY


def test_mbox_body_from_lines_not_split():
    # a body whose lines start with 'From ' must not split the mbox
    body = "From the start.\nFrom the middle.\n"
    data = encode_mbox([encode_eml("one", body)])
    msgs = list(iter_mbox(data))
    assert len(msgs) == 1
    assert parse_eml(msgs[0])["text"] == body


@pytest.mark.parametrize("bad", [b"", b"just some text\nno headers\n"])
def test_refusals(bad):
    with pytest.raises(EmailError):
        parse_eml(bad)


def test_iter_mbox_refuses_non_mbox():
    with pytest.raises(EmailError):
        list(iter_mbox(b"not an mbox"))


def test_email_extract_operator(spark):
    rows = [
        (0, encode_eml("solo", BODY)),
        (1, encode_mbox([encode_eml("m0", BODY), encode_eml("m1", BODY)])),
        (2, b"\x00\x01 garbage"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, asset binary")
    got = email_extract(df).orderBy("doc_id", "msg_idx").collect()
    assert [(r.doc_id, r.decoded_ok, r.msg_idx, r.subject, r.text)
            for r in got] == [
        (0, True, 0, "solo", BODY),
        (1, True, 0, "m0", BODY),
        (1, True, 1, "m1", BODY),
        (2, False, None, None, None),
    ]


def test_outlook_msg_round_trip_and_dispatch(spark):
    """Outlook .msg (CFB MAPI property streams) parses to the same row
    shape as EML and dispatches through email_extract by OLE2 magic."""
    from verified_sources_spark.llm.email_ingest import email_extract
    from verified_sources_spark.llm.msgdoc import (
        MsgError, encode_msg, parse_msg,
    )

    for uni in (True, False):
        m = encode_msg("Quarterly report", "alice@example.com",
                       "Body été text\nsecond line",
                       to_addr="bob@example.com", unicode_props=uni,
                       attachments=2)
        out = parse_msg(m)
        assert out["subject"] == "Quarterly report"
        assert out["from_addr"] == "alice@example.com"
        assert out["text"] == "Body été text\nsecond line"
        assert out["body_source"] == "plain" and out["n_parts"] == 3
    # HTML-only body routes through the shared extract_text
    out = parse_msg(encode_msg("s", "f", "", html=b"<p>html only</p>"))
    assert out["body_source"] == "html" and out["text"] == "html only"
    # refusals
    from verified_sources_spark.llm.cfb import encode_cfb

    with pytest.raises(MsgError, match="no MAPI property"):
        parse_msg(encode_cfb({"WordDocument": b"x" * 2000}))
    # Spark dispatch: .msg rows land beside EML rows
    rows = [(1, bytearray(encode_msg("S1", "a@e.com", "body one"))),
            (2, bytearray(encode_cfb({"Mystery": b"x" * 2000})))]
    df = spark.createDataFrame(rows, "doc_id long, asset binary")
    got = {r["doc_id"]: r for r in email_extract(df).collect()}
    assert got[1]["subject"] == "S1" and got[1]["text"] == "body one"
    assert got[2]["decoded_ok"] is False


def test_cjk_charsets_and_rfc2047_subject():
    """The CJK mail families: ISO-2022-JP (7-bit JIS, the classic
    Japanese mail coding), EUC-JP and GB18030 bodies decode through
    the per-part charset label, and an RFC 2047 B-encoded Subject
    decodes through the default policy — hard-coded UTF-8 anywhere
    garbles all of these."""
    import base64

    from verified_sources_spark.llm.email_ingest import encode_eml, parse_eml

    for cs, text in [("iso-2022-jp", "日本語メール本文"),
                     ("euc-jp", "日本語テキスト"),
                     ("gb18030", "你好，世界 𝄞")]:
        out = parse_eml(encode_eml("Subj", text + "\n", charset=cs))
        assert out["text"] == text + "\n", cs
        # base64 transfer coding too
        out = parse_eml(encode_eml("Subj", text + "\n", charset=cs,
                                   base64_body=True))
        assert out["text"] == text + "\n", (cs, "b64")

    subj = "会議の議事録"
    enc = base64.b64encode(subj.encode("iso-2022-jp")).decode()
    raw = (f"From: a@example.com\r\nTo: b@example.com\r\n"
           f"Subject: =?ISO-2022-JP?B?{enc}?=\r\n"
           f"MIME-Version: 1.0\r\n"
           f"Content-Type: text/plain; charset=\"us-ascii\"\r\n"
           f"\r\nhello\r\n").encode()
    out = parse_eml(raw)
    assert out["subject"] == subj and out["text"] == "hello\r\n"


def test_multi_message_mbox_failure_is_all_or_nothing(spark):
    """An EmailError on message k of a multi-message mbox must not
    leave messages <k's attachment rows behind next to the false row
    (they would double-count text into the dedup surface)."""
    from verified_sources_spark.llm.email_ingest import (
        email_attachment_texts,
    )

    good = encode_eml("has attachment", "see attached",
                      attachments=[("note.txt", "text/plain",
                                    b"attachment prose here")])
    headerless = b"this blob has no Subject/From headers at all\n"
    mbox = encode_mbox([good, headerless])
    df = spark.createDataFrame([(1, bytearray(mbox))],
                               "doc_id long, asset binary")
    rows = email_attachment_texts(df).collect()
    assert len(rows) == 1
    assert rows[0]["decoded_ok"] is False


def test_header_memo_parity_on_encoded_filenames(monkeypatch):
    """parse_eml / iter_attachments parse each header once per message;
    an RFC 2231 ``filename*=UTF-8''…`` parameter and an RFC 2047
    encoded-word filename decode exactly as under a plain
    ``policy.default`` parse."""
    import email
    import email.policy

    from verified_sources_spark.llm import email_ingest

    raw = (b"From: a@example.com\r\nTo: b@example.com\r\n"
           b"Subject: =?UTF-8?B?5pel5pys6Kqe?=\r\nMIME-Version: 1.0\r\n"
           b"Content-Type: multipart/mixed; boundary=\"XX\"\r\n\r\n"
           b"--XX\r\nContent-Type: text/plain; charset=utf-8\r\n\r\nbody\r\n"
           b"--XX\r\nContent-Type: text/plain; charset=utf-8\r\n"
           b"Content-Disposition: attachment; "
           b"filename*=UTF-8''r%C3%A9sum%C3%A9.txt\r\n\r\nfirst\r\n"
           b"--XX\r\nContent-Type: application/octet-stream; "
           b"name=\"=?UTF-8?B?5pel5pys6Kqe?=.bin\"\r\n"
           b"Content-Disposition: attachment; "
           b"filename=\"=?UTF-8?B?5pel5pys6Kqe?=.bin\"\r\n"
           b"Content-Transfer-Encoding: base64\r\n\r\nAAEC\r\n--XX--\r\n")

    def both():
        return list(email_ingest.iter_attachments(raw)), email_ingest.parse_eml(raw)

    memo = both()
    assert memo[0] == [("résumé.txt", "text/plain", b"first"),
                       ("日本語.bin", "application/octet-stream", b"\x00\x01\x02")]
    monkeypatch.setattr(email_ingest, "_message", lambda data: email.message_from_bytes(
        data, policy=email.policy.default))
    assert both() == memo


def test_header_classes_are_built_once():
    """Every factory hands out one shared class per registry class, in
    any header-name case; unknown names share the default class."""
    import email.headerregistry

    from verified_sources_spark.llm.email_ingest import _HeadersOnce

    first, second = _HeadersOnce(), _HeadersOnce()
    assert first["Subject"] is second["subject"]
    assert first["X-One"] is second["X-Two"]
    assert first["Content-Type"] is not first["Subject"]
    assert issubclass(first["Content-Type"], email.headerregistry.ContentTypeHeader)
    assert issubclass(first["Content-Type"], email.headerregistry.BaseHeader)
