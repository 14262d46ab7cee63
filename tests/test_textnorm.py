"""Golden tests for the byte-identical text-extraction contract (SURVEY.md §5.2 #1)."""

import ast
import re
import warnings
from pathlib import Path

import pytest

from folkscope_spark.textnorm import URL_REGEX, clean_text, split_long_text, split_sentences

REF_UTILS = Path("/root/reference/src/pattern/utils.py")

# The reference's URL_REGEX literal (src/pattern/utils.py, the published
# Gruber "liberal, accurate" URL pattern), copied here so the clean-text
# oracle runs without the reference checkout.  Split across lines only; the
# value is byte-identical, which test_url_regex_byte_identical_to_reference
# checks whenever the reference is present.
REFERENCE_URL_PATTERN = (
    r"(?i)\b((?:https?:(?:/{1,3}|[a-z0-9%])|[a-z0-9.\-]+[.](?:com|net"
    r"|org|edu|gov|mil|aero|asia|biz|cat|coop|info|int|jobs|mobi|museum"
    r"|name|post|pro|tel|travel|xxx|ac|ad|ae|af|ag|ai|al|am|an|ao|aq|ar"
    r"|as|at|au|aw|ax|az|ba|bb|bd|be|bf|bg|bh|bi|bj|bm|bn|bo|br|bs|bt|bv"
    r"|bw|by|bz|ca|cc|cd|cf|cg|ch|ci|ck|cl|cm|cn|co|cr|cs|cu|cv|cx|cy|cz"
    r"|dd|de|dj|dk|dm|do|dz|ec|ee|eg|eh|er|es|et|eu|fi|fj|fk|fm|fo|fr|ga"
    r"|gb|gd|ge|gf|gg|gh|gi|gl|gm|gn|gp|gq|gr|gs|gt|gu|gw|gy|hk|hm|hn|hr"
    r"|ht|hu|id|ie|il|im|in|io|iq|ir|is|it|je|jm|jo|jp|ke|kg|kh|ki|km|kn"
    r"|kp|kr|kw|ky|kz|la|lb|lc|li|lk|lr|ls|lt|lu|lv|ly|ma|mc|md|me|mg|mh"
    r"|mk|ml|mm|mn|mo|mp|mq|mr|ms|mt|mu|mv|mw|mx|my|mz|na|nc|ne|nf|ng|ni"
    r"|nl|no|np|nr|nu|nz|om|pa|pe|pf|pg|ph|pk|pl|pm|pn|pr|ps|pt|pw|py|qa"
    r"|re|ro|rs|ru|rw|sa|sb|sc|sd|se|sg|sh|si|sj|Ja|sk|sl|sm|sn|so|sr|ss"
    r"|st|su|sv|sx|sy|sz|tc|td|tf|tg|th|tj|tk|tl|tm|tn|to|tp|tr|tt|tv|tw"
    r"|tz|ua|ug|uk|us|uy|uz|va|vc|ve|vg|vi|vn|vu|wf|ws|ye|yt|yu|za|zm"
    r"|zw)/)(?:[^\s()<>{}\[\]]+|\([^\s()]*?\([^\s()]+\)[^\s()]*?\)"
    r"|\([^\s]+?\))+(?:\([^\s()]*?\([^\s()]+\)[^\s()]*?\)|\([^\s]+?\)"
    r"|[^\s`!()\[\]{};:\'"
    r'".,<>?«»“”‘’])'
    r"|(?:(?<!@)[a-z0-9]+(?:[.\-][a-z0-9]+)*[.](?:com|net|org|edu|gov"
    r"|mil|aero|asia|biz|cat|coop|info|int|jobs|mobi|museum|name|post"
    r"|pro|tel|travel|xxx|ac|ad|ae|af|ag|ai|al|am|an|ao|aq|ar|as|at|au"
    r"|aw|ax|az|ba|bb|bd|be|bf|bg|bh|bi|bj|bm|bn|bo|br|bs|bt|bv|bw|by|bz"
    r"|ca|cc|cd|cf|cg|ch|ci|ck|cl|cm|cn|co|cr|cs|cu|cv|cx|cy|cz|dd|de|dj"
    r"|dk|dm|do|dz|ec|ee|eg|eh|er|es|et|eu|fi|fj|fk|fm|fo|fr|ga|gb|gd|ge"
    r"|gf|gg|gh|gi|gl|gm|gn|gp|gq|gr|gs|gt|gu|gw|gy|hk|hm|hn|hr|ht|hu|id"
    r"|ie|il|im|in|io|iq|ir|is|it|je|jm|jo|jp|ke|kg|kh|ki|km|kn|kp|kr|kw"
    r"|ky|kz|la|lb|lc|li|lk|lr|ls|lt|lu|lv|ly|ma|mc|md|me|mg|mh|mk|ml|mm"
    r"|mn|mo|mp|mq|mr|ms|mt|mu|mv|mw|mx|my|mz|na|nc|ne|nf|ng|ni|nl|no|np"
    r"|nr|nu|nz|om|pa|pe|pf|pg|ph|pk|pl|pm|pn|pr|ps|pt|pw|py|qa|re|ro|rs"
    r"|ru|rw|sa|sb|sc|sd|se|sg|sh|si|sj|Ja|sk|sl|sm|sn|so|sr|ss|st|su|sv"
    r"|sx|sy|sz|tc|td|tf|tg|th|tj|tk|tl|tm|tn|to|tp|tr|tt|tv|tw|tz|ua|ug"
    r"|uk|us|uy|uz|va|vc|ve|vg|vi|vn|vu|wf|ws|ye|yt|yu|za|zm"
    r"|zw)\b/?(?!@)))"
)


def _reference_url_pattern() -> str:
    """Extract the URL regex string literal from the reference source (no import —
    the reference module pulls in stanfordnlp at import time)."""
    src = REF_UTILS.read_text()
    with warnings.catch_warnings():
        # the reference source itself contains non-raw '\]' escapes; the
        # warning belongs to that file, not to this suite
        # two calls: simplefilter's documented contract is a single Warning
        # subclass (the tuple form only works via an issubclass detail)
        warnings.simplefilter("ignore", DeprecationWarning)
        warnings.simplefilter("ignore", SyntaxWarning)
        tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name) and tgt.id == "URL_REGEX":
                    call = node.value
                    return ast.literal_eval(call.args[0])
    raise AssertionError("URL_REGEX literal not found in reference source")


@pytest.mark.skipif(not REF_UTILS.exists(), reason="reference not mounted")
def test_url_regex_byte_identical_to_reference():
    assert URL_REGEX.pattern == _reference_url_pattern()
    assert REFERENCE_URL_PATTERN == _reference_url_pattern()


def test_url_regex_byte_identical_to_copied_reference_literal():
    assert URL_REGEX.pattern == REFERENCE_URL_PATTERN


def _reference_clean(text: str) -> str:
    """The reference cleaner re-executed literally (utils.py:195-214) as oracle."""
    ref_url = re.compile(REFERENCE_URL_PATTERN, re.IGNORECASE)
    text = re.sub(r"[^\x00-\x7F]+", " ", text)
    text = re.sub(r"<ref(.*?)>", "<ref>", text)
    text = re.sub(ref_url, "<url>", text)
    text = re.sub(r"<url>[\(\)\[\]]*<url>", "<url>", text)
    return text.strip()


ADVERSARIAL = [
    "plain ascii text stays untouched",
    "unicodeéè runs你好 collapse   to spaces",
    "see <ref name=x attr='y'> and <ref> markers",
    "visit https://example.com/path?q=1 for info",
    "bare domain example.com and example.org/page too",
    "paired (http://a.com/x)(http://b.net/y) urls",
    "trailing spaces and unicode ’ quote   ",
    "parens url http://en.wikipedia.org/wiki/Spark_(software) kept whole",
    "email not@a.url.com should not fully match the mailto part",
    "mixed: über cool site www.test.de/page <ref foo> end.",
    "",
    "   ",
    "<url>[]<url> already-collapsed pair",
    "tab\tand\nnewline survive (ascii)",
    # round-6 fast-path gate boundaries: each char that bypasses the gate
    # without actually firing a rule must still produce identical output
    "a colon alone: like this fires no rule",
    "a dot alone. ends a sentence but is no tld",
    "a stray < less-than with no ref tag",
    "ftp:notaurl but has the colon gate char",
    "v1.2 versions and file.txt names stay",
]


@pytest.mark.parametrize("text", ADVERSARIAL)
def test_clean_text_byte_identical(text):
    assert clean_text(text) == _reference_clean(text)


def test_split_sentences_basic():
    assert split_sentences("One fish. Two fish! Red fish? Blue fish") == [
        "One fish.",
        "Two fish!",
        "Red fish?",
        "Blue fish",
    ]


def test_split_sentences_newlines():
    assert split_sentences("para one line.\n\npara two line.") == [
        "para one line.",
        "para two line.",
    ]


def test_split_long_text_short_passthrough():
    assert split_long_text("short") == ["short"]


def test_split_long_text_respects_cap():
    text = ("word " * 600).strip()  # ~3000 chars, no sentence bounds
    parts = split_long_text(text, max_len=100)
    assert all(len(p) <= 100 for p in parts)
    assert " ".join(parts) == text


def test_split_long_text_paragraphs_first():
    a = "a" * 700
    b = "b" * 700
    assert split_long_text(f"{a}\n\n{b}", max_len=1024) == [a, b]


def test_reference_parity_relation_drop():
    """Pin the reference's observable propertOf/propertyOf typo behavior
    (SURVEY.md §3.4): parity mode drops propertyOf from the minable set;
    default mode mines all 20 non-open relations."""
    from folkscope_spark.relations import minable_relations

    default = minable_relations()
    parity = minable_relations(reference_parity=True)
    assert "propertyOf" in default and len(default) == 20
    assert "propertyOf" not in parity and len(parity) == 19
    assert "open" not in default
