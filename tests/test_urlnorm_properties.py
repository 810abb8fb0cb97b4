"""Property-based canonicalizer tests (hypothesis): the dedupe key of
the whole engine must be idempotent and total-function-safe."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from nightcrawlercmd_spark.functions.urlnorm import (
    _canonicalize_full,
    canonicalize,
    host_of,
    resolve,
)

_hostchars = st.text(alphabet=string.ascii_letters + string.digits + "-.", min_size=1, max_size=20)
_pathchars = st.text(
    alphabet=string.ascii_letters + string.digits + "/._~%-!$&'()*+,;=:@", max_size=40
)
_querychars = st.text(alphabet=string.ascii_letters + string.digits + "=&_%", max_size=30)


@given(st.text(max_size=120))
@settings(max_examples=300, deadline=None)
def test_never_raises_on_arbitrary_input(s):
    out = canonicalize(s)
    assert out is None or out.startswith(("http://", "https://"))


@given(
    scheme=st.sampled_from(["http", "https", "HTTP", "Https"]),
    host=_hostchars,
    path=_pathchars,
    query=_querychars,
    frag=st.text(alphabet=string.ascii_letters, max_size=10),
)
@settings(max_examples=300, deadline=None)
def test_idempotent(scheme, host, path, query, frag):
    url = f"{scheme}://{host}/{path}"
    if query:
        url += f"?{query}"
    if frag:
        url += f"#{frag}"
    c1 = canonicalize(url)
    if c1 is not None:
        assert canonicalize(c1) == c1
        assert "#" not in c1
        # host component must be already-lowercased and parseable back
        h = host_of(c1)
        assert h == h.lower()


@given(host=_hostchars, path=_pathchars, href=_pathchars)
@settings(max_examples=200, deadline=None)
def test_resolve_output_is_canonical(host, path, href):
    base = canonicalize(f"http://{host}/{path}")
    if base is None:
        return
    child = resolve(base, href)
    if child is not None:
        assert canonicalize(child) == child  # resolution lands in canon space


@given(
    host=_hostchars,
    segs=st.lists(st.sampled_from(["a", "b", "..", ".", "x1"]), max_size=8),
)
@settings(max_examples=200, deadline=None)
def test_dot_segments_never_escape_root(host, segs):
    url = f"http://{host}/" + "/".join(segs)
    c = canonicalize(url)
    if c is not None:
        assert "/../" not in c and not c.endswith("/..")
        assert "/./" not in c


_fix_alphabet = string.ascii_lowercase + string.digits + "-"


@st.composite
def _near_fixpoint_urls(draw):
    """URLs on, or a few edits off, the canonicalize fast path's
    fixpoint grammar (``_CANON_FIXPOINT_RE``): uppercase hosts, ports,
    userinfo, a trailing dot, dot segments, ``%`` escapes, ``?``/``#``
    and trailing whitespace or a newline."""
    host = draw(st.text(alphabet=_fix_alphabet + ".", min_size=1, max_size=12))
    if draw(st.booleans()):
        host = draw(st.sampled_from([
            host.upper(), host.capitalize(), host + ".", host + ":80",
            host + ":8080", "user@" + host,
        ]))
    segs = draw(st.lists(
        st.one_of(
            st.text(alphabet=_fix_alphabet + "_~.", max_size=6),
            st.sampled_from([
                ".", "..", "%41", "%7e", "%2F", "a%20b", "A",
                "x?b=2&a=1", "p#frag", "?", "#",
            ]),
        ),
        max_size=5,
    ))
    path = "/" + "/".join(segs) if segs or draw(st.booleans()) else ""
    scheme = draw(st.sampled_from(["http", "http", "http", "https", "HTTP"]))
    tail = draw(st.sampled_from(["", "", "", " ", "\n", "\t", "/", "?", "#", "."]))
    lead = draw(st.sampled_from(["", "", "", " "]))
    return f"{lead}{scheme}://{host}{path}{tail}"


@given(_near_fixpoint_urls())
@settings(max_examples=500, deadline=None)
def test_canonicalize_fast_path_matches_full(url):
    """The fixpoint fast path may only return a URL the full normalizer
    maps to itself: on every input both give the same answer."""
    assert canonicalize(url) == _canonicalize_full(url)
