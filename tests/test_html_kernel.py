"""HTML branch unit tests: density scoring, drop regions, normalization."""

import time

from hypothesis import given, settings
from hypothesis import strategies as st

from paddle_spark.config import ExtractConfig
from paddle_spark.kernels.html import extract_html, normalize_text, segment_blocks

LONG = "This paragraph definitely has enough characters to clear the keep threshold."


def doc(body: str) -> bytes:
    # empty head: head subtrees are drop regions and would add a dropped
    # block if they contained text (covered by test_article_kept_nav_dropped)
    return f"<html><head></head><body>{body}</body></html>".encode()


def test_article_kept_nav_dropped():
    text, kept, dropped = extract_html(
        doc(
            '<nav><a href="/a">one</a> <a href="/b">two</a> link farm here</nav>'
            f"<article><p>{LONG}</p></article>"
            "<footer>contact us legal privacy terms</footer>"
        )
    )
    assert text == LONG
    assert kept == 1
    assert dropped == 2  # nav subtree + footer subtree


def test_link_density_drop():
    # block that is mostly links -> dropped
    links = " ".join(f'<a href="/{i}">linktext{i} more words</a>' for i in range(6))
    text, kept, dropped = extract_html(
        doc(f"<p>{links}</p><p>{LONG}</p>")
    )
    assert text == LONG
    assert kept == 1 and dropped == 1


def test_inline_link_kept():
    body = f"{LONG} See <a href='/x'>here</a> for details and context."
    text, kept, _ = extract_html(doc(f"<p>{body}</p>"))
    assert "See here for details" in text
    assert kept == 1


def test_short_block_dropped():
    text, kept, dropped = extract_html(doc(f"<p>tiny</p><p>{LONG}</p>"))
    assert text == LONG
    assert dropped == 1


def test_heading_kept_short():
    text, kept, _ = extract_html(doc(f"<h1>Title Here</h1><p>{LONG}</p>"))
    assert text == f"Title Here\n{LONG}"
    assert kept == 2


def test_entities_and_whitespace():
    text, _, _ = extract_html(
        doc(f"<p>{LONG} A &amp; B &lt;tag&gt;   spaced&nbsp;out</p>")
    )
    assert "A & B <tag> spaced\xa0out" in text or "A & B <tag> spaced out" in text


def test_img_figures_ignored():
    text, kept, _ = extract_html(
        doc(f'<div><img src="x.jpg"></div><p>{LONG}</p><div><img src="y.jpg"/></div>')
    )
    assert text == LONG


def test_script_style_stripped():
    text, _, _ = extract_html(
        doc(
            "<script>var x = '<p>fake</p>';</script>"
            "<style>p { color: red }</style>"
            f"<p>{LONG}</p>"
        )
    )
    assert text == LONG
    assert "fake" not in text and "color" not in text


def test_nested_divs_segment():
    text, kept, _ = extract_html(
        doc(f"<div><div><p>{LONG}</p></div><div><p>{LONG} Second one.</p></div></div>")
    )
    assert text.count("\n") == 1
    assert kept == 2


def test_normalize_text():
    assert normalize_text("  a \n\t b  ") == "a b"
    assert normalize_text("x &amp; y") == "x & y"


def test_config_thresholds():
    cfg = ExtractConfig(min_block_chars=1000)
    text, kept, dropped = extract_html(doc(f"<p>{LONG}</p>"), cfg)
    assert text == "" and kept == 0 and dropped == 1


def test_determinism():
    payload = doc(f"<p>{LONG}</p><h2>Head</h2><p>{LONG} more.</p>")
    a = extract_html(payload)
    b = extract_html(payload)
    assert a == b


def test_malformed_html_no_crash():
    # unclosed tags, stray brackets, bad utf-8
    payload = b"<html><body><p>" + LONG.encode() + b" \xff\xfe <div><p>unclosed"
    text, kept, dropped = extract_html(payload)
    assert LONG.split()[0] in text


def test_charset_sniffing():
    from paddle_spark.kernels.html import decode_html, sniff_charset

    latin = (
        '<html><head><meta charset="ISO-8859-1"></head><body>'
        f"<p>{LONG} Café señor</p></body></html>"
    ).encode("latin-1")
    assert sniff_charset(latin) == "latin-1"
    assert "Café señor" in decode_html(latin)
    text, _, _ = extract_html(latin)
    assert "Café señor" in text

    # http-equiv variant
    httpeq = (
        "<html><head><meta http-equiv=\"Content-Type\" "
        "content=\"text/html; charset=windows-1252\"></head><body>"
        f"<p>{LONG} quote \x93x\x94</p></body></html>"
    ).encode("latin-1")
    assert sniff_charset(httpeq) == "cp1252"
    text, _, _ = extract_html(httpeq)
    assert "“x”" in text  # cp1252 smart quotes decoded

    # undeclared invalid utf-8 falls back to latin-1 (never lost)
    raw = b"<html><body><p>" + LONG.encode() + b" caf\xe9</p></body></html>"
    text, _, _ = extract_html(raw)
    assert "caf\xe9" in text

    # unknown charset name is ignored gracefully
    bogus = (
        '<html><head><meta charset="not-a-real-charset"></head><body>'
        f"<p>{LONG}</p></body></html>"
    ).encode()
    assert sniff_charset(bogus) is None
    assert extract_html(bogus)[0] == LONG


def test_blocks_have_monotonic_ids():
    blocks = segment_blocks(doc(f"<p>{LONG}</p><p>{LONG}</p><nav>x y z w</nav>"))
    ids = [b.block_id for b in blocks]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)


def test_nested_boilerplate_dropped_whole():
    """A boilerplate element nesting its own tag drops at every level: the
    text after the inner close is still inside the outer subtree."""
    menu = "Home About Contact Careers Press Investors Legal"
    for tag in ("nav", "form", "svg", "template"):
        payload = doc(f"<{tag}><{tag}>menu</{tag}>{menu}</{tag}><p>{LONG}</p>")
        assert extract_html(payload) == (LONG, 1, 1), tag


def test_stray_or_unclosed_close_inside_boilerplate():
    """A close tag ends its own boilerplate element and any unclosed one
    inside it; a close tag of an element that is not open is ignored."""
    menu = "Home About Contact Careers Press Investors Legal"
    for inner in ("</form>", "<button>", "<select><svg>", "<form></svg>"):
        payload = doc(f"<nav>{inner}{menu}</nav><p>{LONG}</p>")
        assert extract_html(payload) == (LONG, 1, 1), inner


def test_marker_lookalike_tags_are_plain_markup():
    """Tags that look like internal markers (``<xdropped0/>``) or hold the
    private-use U+E000 are ordinary unknown tags; U+E000 never reaches the
    extracted text."""
    cases = [
        (b"<html><body><p>before</p><xdropped0/>"
         b"<p>afterwards text that is long enough</p></body></html>",
         ("afterwards text that is long enough", 1, 1)),
        (b"<html><body><xdropped999/><nav>boiler</nav>"
         b"<p>main content paragraph long enough</p></body></html>",
         ("main content paragraph long enough", 1, 1)),
        (b"<html><body><p>a \xee\x80\x80 sentinel in text run long enough"
         b" to keep</p></body></html>",
         ("a sentinel in text run long enough to keep", 1, 0)),
        (b"<html><body><\xee\x80\x8012/><p>fake sentinel tag plus long"
         b" enough text</p></body></html>",
         ("fake sentinel tag plus long enough text", 1, 0)),
        (b"<html><body><xdroppedfoo><p>unparseable index long enough"
         b" paragraph</p></body></html>",
         ("unparseable index long enough paragraph", 1, 0)),
    ]
    for payload, want in cases:
        assert extract_html(payload) == want, payload


# A word that occurs only inside boilerplate subtrees, in a run long enough
# to be kept if it ever leaked into a main-text block.
MARKER = "zqxmarker"
_MARKER_RUN = f"{MARKER} words that would clear the keep threshold"
_BOILERPLATE = ("nav", "footer", "aside", "form", "svg", "template")


def _boilerplate(depth: int = 0) -> st.SearchStrategy[str]:
    """A balanced boilerplate subtree, possibly nesting its own tag."""
    leaf = st.sampled_from(
        [_MARKER_RUN, f"<p>{_MARKER_RUN}</p>", f"<a href='/m'>{_MARKER_RUN}</a>",
         f"<div>{_MARKER_RUN}<br></div>", "<img src='m.png'>"]
    )
    kid = leaf if depth >= 2 else st.one_of(leaf, st.deferred(lambda: _boilerplate(depth + 1)))
    return st.builds(
        lambda tag, kids: f"<{tag}>{''.join(kids)}</{tag}>",
        st.sampled_from(_BOILERPLATE),
        st.lists(kid, min_size=1, max_size=3),
    )


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.sampled_from(
                [
                    "<p>some reasonably long paragraph text for scoring</p>",
                    "<div><h2>Head</h2>",
                    "</div>",
                    "<script>var x = '<p>trap</p>';</script>",
                    "<!-- a comment with <p>markup</p> inside -->",
                    "plain top-level text run that is long enough to keep",
                    "<br>",
                    "<img src='x.jpg'>",
                    "<a href='/l'>inline link text</a>",
                    "<head><title>t</title><style>p{}</style></head>",
                    "<p>a private-use \ue000 char in a long enough paragraph</p>",
                    "<\ue0000/><xdropped1/>",
                ]
            ),
            _boilerplate(),
        ),
        max_size=12,
    )
)
def test_boilerplate_text_never_leaks(parts):
    payload = ("<html><body>" + "".join(parts) + "</body></html>").encode()
    first = extract_html(payload)
    assert extract_html(payload) == first
    assert MARKER not in first[0]
    assert "\ue000" not in first[0]


def test_unclosed_boilerplate_is_linear():
    """Unclosed ``<nav>`` openers, alone or followed by as many stray
    ``</form>`` closes: 8x the bytes must cost well under the 64x of a
    quadratic scan (linear reads about 8x)."""

    def best_of_3(payload: bytes) -> float:
        times = []
        for _ in range(3):
            t0 = time.process_time()
            extract_html(payload)
            times.append(time.process_time() - t0)
        return min(times)

    for unit, tail in (("<nav>x", ""), ("<nav>", "</form>")):
        n = 8 * 1024 // len(unit + tail)
        small = (unit * n + tail * n).encode()
        large = (unit * 8 * n + tail * 8 * n).encode()
        assert best_of_3(large) / best_of_3(small) < 16, unit
