"""Text/markdown functions (reference F3–F8).

The reference pipeline (handlers/comments.js:20-59) is:
markdown→HTML (markdown-it), <img src> extraction, double tag-strip
to plain text, newline spacing, hashtag extraction. Everything except
the full markdown renderer is pure column expressions; the renderer
is approximated with regex stripping (builtin, vectorized) — the
semantic goal is plain text + image URLs, not HTML fidelity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# <img ... src="..."> — reference uses an HTML parser
# (handlers/comments.js:44-51); a regex over the rendered body
# captures the same src set for well-formed tags.
_IMG_SRC_RE = r'<img[^>]*src\s*=\s*["\']([^"\']+)["\']'
# Markdown image/link syntax: ![alt](url) and [text](url)
_MD_IMG_RE = r"!\[[^\]]*\]\(([^)\s]+)[^)]*\)"

# Markdown LINK syntax [text](url ...): an optional leading '!' is
# CAPTURED (group 1) and image matches are filtered out afterwards —
# RE2 (the DuckDB oracle engine) has no lookbehind, and the earlier
# consumed-prefix form (^|[^!]) silently dropped the second of two
# immediately adjacent links (the first match consumed the character
# the second needed as its prefix).  Groups: 1 = ''|'!', 2 = anchor
# text, 3 = url.  Kept inside the Java/RE2 shared subset like every
# oracle-visible pattern in this module.
MD_LINK_RE = r"(!?)\[([^\]]*)\]\(([^)\s]+)[^)]*\)"
# ATX headings: 1-6 '#' at line start, then whitespace, then text.
# Anchoring is EXPLICIT ((^|\n) + [^\n]) instead of (?m)^/.+$: Java's
# multiline mode also treats CR, U+0085 and U+2028/U+2029 as line
# terminators while RE2 only knows \n, so the inline-flag form
# silently diverges between Spark and the DuckDB oracle on any
# non-LF line ending.  Groups: 2 = marks, 3 = title (which keeps a
# trailing \r on CRLF input — in BOTH engines identically).
MD_HEADING_RE = r"(^|\n)(#{1,6})[ \t]+([^\n]+)"


def extract_links(body: Column) -> Column:
    """Markdown links as an array of (text, url) structs — the
    links slice of the reference's markdown parse
    (handlers/comments.js:43-55) that is regex-expressible in both
    engines (images excluded via the captured-'!' filter; they are
    F4's extract_image_srcs)."""
    flags = F.regexp_extract_all(body, F.lit(MD_LINK_RE), 1)
    texts = F.regexp_extract_all(body, F.lit(MD_LINK_RE), 2)
    urls = F.regexp_extract_all(body, F.lit(MD_LINK_RE), 3)
    zipped = F.zip_with(
        F.zip_with(flags, texts, lambda f, t: F.struct(f.alias("f"), t.alias("t"))),
        urls,
        lambda ft, u: F.struct(
            ft.getField("f").alias("f"),
            ft.getField("t").alias("text"),
            u.alias("url"),
        ),
    )
    kept = F.filter(zipped, lambda s: s.getField("f") == "")
    return F.transform(
        kept,
        lambda s: F.struct(
            s.getField("text").alias("text"), s.getField("url").alias("url")
        ),
    )


def extract_headings(body: Column) -> Column:
    """ATX headings as an array of (level, title) structs, document
    order — the headings slice of the markdown parse."""
    marks = F.regexp_extract_all(body, F.lit(MD_HEADING_RE), 2)
    titles = F.regexp_extract_all(body, F.lit(MD_HEADING_RE), 3)
    return F.zip_with(
        marks,
        titles,
        lambda m, t: F.struct(
            F.length(m).cast("int").alias("level"), t.alias("title")
        ),
    )


def extract_image_srcs(body: Column) -> Column:
    """F4: all image URLs in a post body — HTML <img src> plus
    markdown image syntax, deduplicated, order of first appearance
    per source kind."""
    html_srcs = F.regexp_extract_all(body, F.lit(_IMG_SRC_RE), 1)
    md_srcs = F.regexp_extract_all(body, F.lit(_MD_IMG_RE), 1)
    return F.array_distinct(F.concat(html_srcs, md_srcs))


def markdown_to_text(body: Column) -> Column:
    """F3+F5: approximate markdown→plain-text. Strips HTML tags twice
    (the reference strips twice to catch markdown-escaped HTML,
    handlers/comments.js:53-55), then markdown syntax markers."""
    t = F.regexp_replace(body, r"<[^>]+>", " ")
    t = F.regexp_replace(t, r"<[^>]+>", " ")          # second pass, as in reference
    t = F.regexp_replace(t, _MD_IMG_RE, " ")           # images
    t = F.regexp_replace(t, r"\[([^\]]*)\]\([^)]*\)", r"$1")  # links → text
    t = F.regexp_replace(t, r"[*_`#>~]+", " ")         # emphasis/heading markers
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def space_newlines(body: Column) -> Column:
    """F6: body.replace(/\n/g, " \n ") (handlers/comments.js:56) —
    guarantees newline-delimited tokens split on whitespace."""
    return F.regexp_replace(body, r"\n", " \n ")


def extract_hashtags(body: Column) -> Column:
    """F7 (handlers/comments.js:71-73,94-96): split on spaces, keep
    tokens starting '#', strip the '#'. Pure higher-order functions —
    no UDF, stays in codegen."""
    toks = F.split(space_newlines(body), " ")
    tags = F.filter(toks, lambda t: t.startswith("#") & (F.length(t) > 1))
    return F.transform(tags, lambda t: F.lower(F.substring(t, 2, 1000)))
