"""Golden-corpus tests for the scrub kernel.

Every case is a literal expected output from the reference's own spec
suite, via FIXTURES.md (file:line cited per case, all under
/root/reference/spec/).  No Spark here — these pin the kernel before any
distribution concerns.
"""

import pytest

from top_secret_spark.kernel.filters import (
    MalformedLabel,
    NERFilter,
    RegexFilter,
    ScrubConfig,
    dictionary_filter,
    validate_label,
)
from top_secret_spark.kernel.scrub import (
    filter_text,
    restore_text,
    scan_text,
    scrub_batch,
    substitute_text,
)

E = lambda text, tag, score=0.5: {"text": text, "tag": tag.upper(), "score": score}


# --- T2 scrub_cases: regex-only goldens (spec/top_secret/text_spec.rb) ----

REGEX_CASES = [
    # case_id, input, expected_output, expected_mapping
    ("email_basic", "user@example.com", "[EMAIL_1]",
     [("EMAIL_1", "user@example.com")]),
    ("email_multi", "user_1@example.com user_2@example.com",
     "[EMAIL_1] [EMAIL_2]",
     [("EMAIL_1", "user_1@example.com"), ("EMAIL_2", "user_2@example.com")]),
    ("email_dup", "user_1@example.com user_1@example.com",
     "[EMAIL_1] [EMAIL_1]", [("EMAIL_1", "user_1@example.com")]),
    ("cc_delim", "4242-4242-4242-4242", "[CREDIT_CARD_1]",
     [("CREDIT_CARD_1", "4242-4242-4242-4242")]),
    ("cc_plain", "4242424242424242", "[CREDIT_CARD_1]",
     [("CREDIT_CARD_1", "4242424242424242")]),
    ("ssn_basic", "123-45-6789", "[SSN_1]", [("SSN_1", "123-45-6789")]),
    ("ssn_multi", "123-45-6789 000-00-0000", "[SSN_1] [SSN_2]",
     [("SSN_1", "123-45-6789"), ("SSN_2", "000-00-0000")]),
    ("ssn_dup", "123-45-6789 123-45-6789", "[SSN_1] [SSN_1]",
     [("SSN_1", "123-45-6789")]),
    ("phone_basic", "555-555-5555", "[PHONE_NUMBER_1]",
     [("PHONE_NUMBER_1", "555-555-5555")]),
    ("phone_multi", "555-555-5555 444-444-4444",
     "[PHONE_NUMBER_1] [PHONE_NUMBER_2]",
     [("PHONE_NUMBER_1", "555-555-5555"), ("PHONE_NUMBER_2", "444-444-4444")]),
    ("phone_dup", "555-555-5555 555-555-5555",
     "[PHONE_NUMBER_1] [PHONE_NUMBER_1]",
     [("PHONE_NUMBER_1", "555-555-5555")]),
    ("empty", "", "", []),
    ("clean", "This sentence contains no sensitive information",
     "This sentence contains no sensitive information", []),
]


@pytest.mark.parametrize(
    "case_id,text,expected_output,expected_mapping",
    REGEX_CASES,
    ids=[c[0] for c in REGEX_CASES],
)
def test_regex_goldens(case_id, text, expected_output, expected_mapping):
    output, mapping = filter_text(text)
    assert output == expected_output
    assert mapping == expected_mapping


def test_cc_multi4_document_order():
    # text_spec.rb:469-487 — numbered in document order across formats
    text = ("4242-4242-4242-4242\n4141-4141-4141-4141\n"
            "4242424242424242\n4141414141414141")
    output, mapping = filter_text(text)
    assert output == "[CREDIT_CARD_1]\n[CREDIT_CARD_2]\n[CREDIT_CARD_3]\n[CREDIT_CARD_4]"
    assert [k for k, _ in mapping] == [f"CREDIT_CARD_{i}" for i in range(1, 5)]


def test_cc_dup_adjacent_share_numbers():
    # text_spec.rb:489-515 — duplicates share a number
    lines = ["4242-4242-4242-4242", "4242-4242-4242-4242",
             "4141-4141-4141-4141", "4141-4141-4141-4141",
             "4242424242424242", "4242424242424242",
             "4141414141414141", "4141414141414141"]
    output, mapping = filter_text("\n".join(lines))
    assert output.split("\n") == [
        "[CREDIT_CARD_1]", "[CREDIT_CARD_1]", "[CREDIT_CARD_2]", "[CREDIT_CARD_2]",
        "[CREDIT_CARD_3]", "[CREDIT_CARD_3]", "[CREDIT_CARD_4]", "[CREDIT_CARD_4]"]
    assert len(mapping) == 4


def test_flagship_six_categories():
    # text_spec.rb:12-44 — the reference's flagship end-to-end golden
    text = ("My name is Ralph\n"
            "My location is Boston\n"
            "My email address is user@example.com\n"
            "My credit card numbers are 4242-4242-4242-4242 and 4141414141414141\n"
            "My social security number is 123-45-6789\n"
            "My phone number is 555-555-5555")
    entities = [E("Ralph", "person"), E("Boston", "location")]
    output, mapping = filter_text(text, entities)
    assert output == ("My name is [PERSON_1]\n"
                      "My location is [LOCATION_1]\n"
                      "My email address is [EMAIL_1]\n"
                      "My credit card numbers are [CREDIT_CARD_1] and [CREDIT_CARD_2]\n"
                      "My social security number is [SSN_1]\n"
                      "My phone number is [PHONE_NUMBER_1]")
    # mapping order = filter order: credit_card, email, phone, ssn, person, location
    assert mapping == [
        ("CREDIT_CARD_1", "4242-4242-4242-4242"),
        ("CREDIT_CARD_2", "4141414141414141"),
        ("EMAIL_1", "user@example.com"),
        ("PHONE_NUMBER_1", "555-555-5555"),
        ("SSN_1", "123-45-6789"),
        ("PERSON_1", "Ralph"),
        ("LOCATION_1", "Boston"),
    ]


def test_no_refilter_of_emitted_tokens():
    # text_spec.rb:46-63 + CHANGELOG.md:5-7 — the v1.0.1 fix: "MA" inside
    # the emitted [EMAIL_1] token must not be re-filtered by LOCATION
    text = ("Build a profile for a person with email user@example.com "
            "located in Boston, MA.")
    entities = [E("Boston", "location"), E("MA", "location")]
    output, _ = filter_text(text, entities)
    assert output == ("Build a profile for a person with email [EMAIL_1] "
                      "located in [LOCATION_1], [LOCATION_2].")


def test_custom_filter_label_wins_for_shared_value():
    # text_spec.rb:65-79 — later filter's label wins the inversion
    custom = RegexFilter("CUSTOM_EMAIL", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+")
    cfg = ScrubConfig(custom_filters=(custom,))
    output, mapping = filter_text("Contact user@example.com", config=cfg)
    assert output == "Contact [CUSTOM_EMAIL_1]"
    assert ("EMAIL_1", "user@example.com") in mapping
    assert ("CUSTOM_EMAIL_1", "user@example.com") in mapping


def test_custom_ip_filter():
    # text_spec.rb:309-345
    ip = RegexFilter("IP_ADDRESS", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b")
    cfg = ScrubConfig(custom_filters=(ip,))
    output, _ = filter_text("My IP address is 192.168.1.1", config=cfg)
    assert output == "My IP address is [IP_ADDRESS_1]"


def test_disable_default_filter():
    # text_spec.rb:278-307 — nil override disables a slot
    cfg = ScrubConfig(overrides={"email_filter": None})
    text = "Email user@example.com or call 555-555-5555"
    output, _ = filter_text(text, config=cfg)
    assert output == "Email user@example.com or call [PHONE_NUMBER_1]"


def test_override_ner_filter_label_and_threshold():
    # text_spec.rb:238-276
    cfg = ScrubConfig(
        overrides={"people_filter": NERFilter("NAME", "person", 0.25)})
    output, _ = filter_text("My name is Ralph",
                            [E("Ralph", "person", 0.25)], cfg)
    assert output == "My name is [NAME_1]"


def test_ner_below_threshold_unchanged():
    # text_spec.rb:577-589
    output, mapping = filter_text("Ralph", [E("Ralph", "person", 0.4)])
    assert output == "Ralph" and mapping == []


def test_ner_threshold_inclusive():
    # spec_helper.rb:22 — default entity score == threshold must match
    output, _ = filter_text("Ralph", [E("Ralph", "person", 0.5)])
    assert output == "[PERSON_1]"


def test_ner_multi_and_dup():
    # text_spec.rb:549-575
    out1, _ = filter_text("Ralph Ruby", [E("Ralph", "person"), E("Ruby", "person")])
    assert out1 == "[PERSON_1] [PERSON_2]"
    out2, _ = filter_text("Ralph Ralph", [E("Ralph", "person"), E("Ralph", "person")])
    assert out2 == "[PERSON_1] [PERSON_1]"


def test_ner_custom_tag():
    # text_spec.rb:347-386
    cfg = ScrubConfig(custom_filters=(NERFilter("IP_ADDRESS", "ip_address"),))
    output, _ = filter_text("My IP address is 192.168.1.1",
                            [E("192.168.1.1", "ip_address")], cfg)
    assert output == "My IP address is [IP_ADDRESS_1]"


def test_unknown_override_key_raises():
    # text.rb:245-247 assert_valid_keys
    with pytest.raises(ValueError, match="Unknown filter key"):
        ScrubConfig(overrides={"nope_filter": None})


@pytest.mark.parametrize("bad", [
    None, "", "   ", "_EMAIL", "EMAIL_", "EMAIL1", "EMAIL__ADDRESS",
    "EMAIL*ADDRESS", "EMAIL ADDRESS", "123", "EMAIL-ADDRESS", "_", "É",
])
def test_malformed_labels_raise(bad):
    # text_spec.rb:633-671, text.rb:275-281
    with pytest.raises(MalformedLabel):
        validate_label(bad)


@pytest.mark.parametrize("good", ["EMAIL", "IP_ADDRESS", "CREDIT_CARD", "a", "a_b_c"])
def test_valid_labels_pass(good):
    assert validate_label(good) == good


def test_malformed_label_raises_at_scan():
    cfg = ScrubConfig(custom_filters=(RegexFilter("BAD_", r"x"),))
    with pytest.raises(MalformedLabel):
        scan_text("x", config=cfg)


def test_non_filter_object_raises_clear_error():
    # text.rb:146-153 — unknown filter class raises TopSecret::Error
    from top_secret_spark.kernel.filters import TopSecretError

    with pytest.raises(TopSecretError, match="Unsupported filter type"):
        ScrubConfig(custom_filters=(("EMAIL", "x"),)).all_filters()


# --- pattern edge semantics -------------------------------------------------

def test_phone_contiguous_10_digits_do_not_match():
    # constants.rb:21 — separator between groups is required
    _, mapping = filter_text("5555555555")
    assert mapping == []


def test_phone_formats_corpus():
    # spec/top_secret/constants_spec.rb:4-10
    for phone in ["555-555-5555", "555.555.5555", "555 555 5555",
                  "(555) 555-5555", "+1 555-555-5555", "+12 555 555 5555"]:
        _, mapping = filter_text(phone)
        keys = [k for k, _ in mapping]
        assert "PHONE_NUMBER_1" in keys, phone


def test_credit_card_requires_leading_3456():
    _, mapping = filter_text("1111111111111111")
    assert mapping == []


def test_email_matches_inside_larger_token():
    # EMAIL_REGEX has no anchors (constants.rb:14-18)
    output, _ = filter_text("xx<user@example.com>yy")
    assert "[EMAIL_1]" in output


def test_ascii_digit_semantics():
    # Ruby \d is ASCII-only; full-width digits must NOT match
    _, mapping = filter_text("１２３-４５-6789")
    assert mapping == []


def test_ssn_with_plus_and_space_separators():
    _, m1 = filter_text("123 45 6789")
    _, m2 = filter_text("123+45+6789")
    assert [k for k, _ in m1] == ["SSN_1"]
    assert [k for k, _ in m2] == ["SSN_1"]


def test_dictionary_filter():
    f = dictionary_filter("CODE_NAME", ["Project X", "Blue Harvest"])
    cfg = ScrubConfig(custom_filters=(f,))
    output, _ = filter_text("Ship Project X and Blue Harvest now", config=cfg)
    assert output == "Ship [CODE_NAME_1] and [CODE_NAME_2] now"


def test_scan_does_not_modify_text():
    mapping = scan_text("user@example.com")
    assert mapping == [("EMAIL_1", "user@example.com")]


def test_substitute_ordered_alternation():
    # README.md:524-528 — first alternative in insertion order wins
    mapping = [("EMAIL_ADDRESS_1", "ralph[at]thoughtbot.com"), ("X_1", "ralph[")]
    assert substitute_text("ralph[at]thoughtbot.com", mapping) == "[EMAIL_ADDRESS_1]"


# --- restore (op 19, filtered_text.rb:43-58) --------------------------------

def test_restore_basic():
    out, unrestored, restored = restore_text(
        "Contact [EMAIL_1]", [("EMAIL_1", "john@example.com")])
    assert out == "Contact john@example.com"
    assert restored == ["[EMAIL_1]"] and unrestored == []


def test_restore_all_occurrences_restored_deduped():
    # filtered_text_spec.rb:86-98
    out, _, restored = restore_text(
        "[EMAIL_1] and [EMAIL_1]", [("EMAIL_1", "a@b.com")])
    assert out == "a@b.com and a@b.com"
    assert restored == ["[EMAIL_1]"]


def test_restore_unrestored_single_digit_quirk():
    # filtered_text_spec.rb:31-43 — [PERSON_10] restores fine but an
    # unknown multi-digit token is never reported unrestored
    out, unrestored, restored = restore_text(
        "[PERSON_10] met [PERSON_11] and [GHOST_1]",
        [("PERSON_10", "Ralph")])
    assert out.startswith("Ralph met")
    assert restored == ["[PERSON_10]"]
    assert unrestored == ["[GHOST_1]"]  # [PERSON_11] invisible to the quirk


def test_restore_case_sensitive():
    # filtered_text_spec.rb:45-57
    out, unrestored, restored = restore_text(
        "Contact [email_1]", [("EMAIL_1", "a@b.com")])
    assert out == "Contact [email_1]"
    assert restored == [] and unrestored == ["[email_1]"]


def test_restore_sequential_not_single_pass():
    # sequential gsub loop: a restored value containing a later placeholder
    # IS re-matched (unlike scrub's single pass)
    out, _, restored = restore_text(
        "[A_1]", [("A_1", "see [B_1]"), ("B_1", "bee")])
    assert out == "see bee"
    assert restored == ["[A_1]", "[B_1]"]


def test_restore_duplicates_kept_in_unrestored():
    out, unrestored, _ = restore_text("[X_1] [X_1]", [])
    assert unrestored == ["[X_1]", "[X_1]"]


# --- batch kernel ------------------------------------------------------------

def test_scrub_batch_matches_single():
    texts = [c[1] for c in REGEX_CASES]
    outputs, mappings = scrub_batch(texts)
    for text, out, mp in zip(texts, outputs, mappings):
        exp_out, exp_mp = filter_text(text)
        assert out == exp_out and mp == exp_mp


def test_scrub_batch_none_passthrough():
    outputs, mappings = scrub_batch([None, "user@example.com"])
    assert outputs[0] == "" and mappings[0] == []
    assert outputs[1] == "[EMAIL_1]"


# --- URL filter (north-star addition; NOT a reference default) ---------------------


def test_url_filter_scrubs_schemed_urls_only():
    from top_secret_spark.kernel.filters import NORTH_STAR_CONFIG
    from top_secret_spark.kernel.scrub import filter_text

    out, mapping = filter_text(
        "Visit https://example.com/a?b=1 or http://host:8080/x. "
        "Bare example.com stays.",
        config=NORTH_STAR_CONFIG,
    )
    # the path charset [^\s\])"'] includes '.', so the sentence period
    # after '/x' is consumed by [URL_2] — documented pattern behavior
    assert out == "Visit [URL_1] or [URL_2] Bare example.com stays."
    assert dict(mapping)["URL_1"] == "https://example.com/a?b=1"


def test_default_config_is_reference_faithful_no_url_slot():
    from top_secret_spark.kernel.filters import DEFAULT_CONFIG
    from top_secret_spark.kernel.scrub import filter_text

    # the gem has no URL filter; parity surfaces must leave URLs alone
    out, _ = filter_text("See https://example.com/a now", config=DEFAULT_CONFIG)
    assert out == "See https://example.com/a now"


def test_url_filter_does_not_touch_reference_email_fixture():
    from top_secret_spark.kernel.filters import NORTH_STAR_CONFIG
    from top_secret_spark.kernel.scrub import filter_text

    # the reference's obfuscated-email fixture (text_spec.rb) contains a
    # bare domain — URL scrubbing must not alter its scrub result
    out, _ = filter_text("Contact ralph[at]thoughtbot.com", config=NORTH_STAR_CONFIG)
    assert "[URL_" not in out


# --- the required-character gate in front of the regex filters ----------


def _gate_chars(f):
    from top_secret_spark.kernel.scrub import _prefilter

    gate = _prefilter(f)
    if gate is None or isinstance(gate, str):
        return gate
    return [chars.decode("ascii") for chars in gate]


class _Duck:
    label, kind = "DUCK", "regex"

    def call(self, text):
        return []


class _Sub(RegexFilter):
    pass


@pytest.mark.parametrize("f, expected", [
    # a branch: the union of one set per alternative
    (dictionary_filter("T", ["cat", "dog"]), ["cd"]),
    # an alternative with no required set voids the branch
    (RegexFilter("T", "a|b?"), None),
    (RegexFilter("T", "^a|b$"), ["ab"]),
    # IGNORECASE, global or scoped, gives nothing
    (RegexFilter("T", "(?i)cat"), None),
    (RegexFilter("T", "(?i:c)at"), ["a", "t"]),
    # lookarounds, backreferences, negated and non-ASCII classes give nothing
    (RegexFilter("T", r"(?<=\$)\d+(?=kg)"), ["0123456789"]),
    (RegexFilter("T", r"(x)\1"), ["x"]),
    (RegexFilter("T", "[^a]b"), ["b"]),
    (RegexFilter("T", "[aé]"), None),
    # a minimum repeat of zero gives nothing; repeated sets appear once
    (RegexFilter("T", "x*y{0,2}"), None),
    (RegexFilter("T", r"\d+-\d+"), ["0123456789", "-"]),
    (RegexFilter("T", r"\s"), ["\t\n\x0b\x0c\r "]),
    (NERFilter("PERSON", "person"), "entities"),
    (_Sub("T", "cat"), None),
    (_Duck(), None),
])
def test_prefilter_required_sets(f, expected):
    assert _gate_chars(f) == expected


def test_prefiltered_scrub_batch_skips_nothing_it_must_scan():
    cfg = ScrubConfig(custom_filters=(dictionary_filter("PET", ["cat", "dog"]),))
    texts = ["a dog", "a cat", "none", None, "", "call 555-555-5555"]
    ents = [None, [E("Ann", "person")], [], None, [E("Rome", "location")], None]
    outputs, mappings = scrub_batch(texts, ents, cfg)
    assert outputs == ["a [PET_1]", "a [PET_1]", "none", "", "",
                       "call [PHONE_NUMBER_1]"]
    assert mappings == [[("PET_1", "dog")],
                        [("PERSON_1", "Ann"), ("PET_1", "cat")],
                        [], [], [("LOCATION_1", "Rome")],
                        [("PHONE_NUMBER_1", "555-555-5555")]]


def test_prefiltered_scrub_batch_over_64_required_sets():
    """The presence test packs 64 sets per pass; a config with more
    distinct sets spans several passes and must still admit every row
    that a filter matches."""
    import re

    chars = [chr(c) for c in range(33, 127) if chr(c) not in "[]"][:70]
    cfg = ScrubConfig(custom_filters=tuple(
        RegexFilter("CHAR", re.escape(c) + "q") for c in chars))
    texts = [f"x{c}q y" for c in chars] + ["plain", "~q !q"]
    expected = [filter_text(t, None, cfg) for t in texts]
    assert scrub_batch(texts, None, cfg) == (
        [o for o, _ in expected], [m for _, m in expected])
    assert sum(1 for _, m in expected if m) == 71


def test_reference_per_message_latency_gate():
    """The reference benchmark's CI gate (bin/benchmark): filtering one
    of its three email + credit-card messages takes <= 350 ms.  One warm
    call, then the best of 5 timed runs over the message set."""
    import time

    messages = [
        "Hi, my email is alice@example.com and my card is 4242-4242-4242-4242.",
        "Contact bob@test.org about the charge on 4141414141414141 today.",
        "Send receipts to carol@mail.example.net; card 4242424242424242 failed.",
    ]
    for m in messages:
        filter_text(m)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        for m in messages:
            filter_text(m)
        best = min(best, time.perf_counter() - t0)
    assert best / len(messages) * 1000 <= 350
