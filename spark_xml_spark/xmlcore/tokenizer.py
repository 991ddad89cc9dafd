"""Row-region extraction: find ``<rowTag ...>...</rowTag>`` byte regions.

Python re-implementation of the *semantics* of the reference's Hadoop input
format (/root/reference/src/main/scala/com/databricks/spark/xml/
XmlInputFormat.scala:193-313):

- a "record" is the byte region from a rowTag start tag through its matching
  end tag, found by raw stream matching without parsing the whole document
- start tags may carry attributes (scan to '>' — XmlInputFormat.scala:211-217)
  and may be self-closing (``<tag .../>`` — XmlInputFormat.scala:290-298)
- nested same-name tags are depth-counted (XmlInputFormat.scala:226-313)
- split ownership: a record belongs to the byte range where its start tag
  begins; scanning stops once the cursor passes the range end
  (XmlInputFormat.scala:198), so records straddling a boundary are read by
  exactly one task — the no-loss/no-duplication invariant asserted by
  XmlPartitioningSuite.scala:27-72

Improvements over the reference scanner (strictly more robust, no behavior
change on its fixtures): comments, CDATA sections, and processing
instructions are skipped during both scans, and attribute values are scanned
quote-aware so '>' inside a quoted value cannot end a tag early.

Quote-awareness costs nothing on well-formed data: a tag is *safe* when its
quotes balance before its first '>' and no quoted value holds '<' or '>'
(_UNSAFE_LT finds the first '<' that does not open one). Over a run of safe
tags the quote-naive C regexes and the quote-aware walk agree on every tag
end, so such runs — quoted attributes included — take the batch window
scan; only the bytes from an unsafe tag on take the per-record walk.

One loop, many openers: every input kind (plain byte range, bzip2 block
range, transcoded range, in-memory text) is opened into a byte buffer plus a
monotone ownership predicate, and one record-region loop (_scan_regions)
scans them all — the reference's one record reader over a decoded stream.

Scale note: each Spark task scans only its own byte range with a bounded
buffer (memory ~ max record size + chunk), so the scan parallelizes to
arbitrary file sizes. The bound holds for every charset: non-ASCII-compatible
ones, stateful ISO-2022/HZ included, are transcoded incrementally, never
decoded whole. gzip is not splittable -> whole-file range; bzip2 IS
splittable: byte-range splits over the compressed file with block-aligned
ownership (bz2split module; the reference's BYBLOCK mode,
XmlInputFormat.scala:93-103).
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass
from typing import Iterator, List, Optional, Tuple

from spark_xml_spark.xmlcore import codecs, fs

_CHUNK = 1 << 20
_NAME_END = (" ", "\t", "\n", "\r", ">", "/")
_END_TAG_OK = (ord(" "), ord("\t"), ord("\n"), ord("\r"), ord(">"))
_MARKUP_OPENERS = (b"<!--", b"<![CDATA[", b"<?")

# Charsets where '<', '>', '/', '"' are single ASCII bytes (safe to scan raw).
_ASCII_COMPAT_PREFIXES = ("utf-8", "utf8", "ascii", "latin", "iso-8859", "cp12", "koi8")


def is_ascii_compatible(charset: str) -> bool:
    c = charset.lower().replace("_", "-")
    return c.startswith(_ASCII_COMPAT_PREFIXES)


# Fixed code-unit widths for the UTF-16/32 families: these split in
# parallel via the transcoding opener (_open_transcoded_range). Other
# non-ASCII-compatible charsets probe as width-1 below when their codec
# is provably stateless single-byte (EBCDIC family etc.); multi-byte CJK
# codecs split via the '<'-aligned transcode when lt_safe_multibyte
# proves re-sync; only charsets where a raw 0x3C is ambiguous
# (ISO-2022, HZ) stay whole-file.
_UNIT_WIDTHS = {
    "utf-16": 2, "utf-16-le": 2, "utf-16-be": 2, "utf-16le": 2, "utf-16be": 2,
    "utf-32": 4, "utf-32-le": 4, "utf-32-be": 4, "utf-32le": 4, "utf-32be": 4,
}


@functools.lru_cache(maxsize=64)
def _single_byte_codec_width(charset: str) -> Optional[int]:
    """1 when ``charset`` is a stateless single-byte Python codec: every
    byte fed ALONE decodes to exactly one char with nothing buffered, so
    any byte offset is a character boundary and byte-range splits are
    safe through the per-split incremental transcode (the reference
    decodes any charset per split via InputStreamReader,
    XmlInputFormat.scala:76-122 — this is the same guarantee, proven
    against the codec instead of assumed). Multi-byte or stateful codecs
    buffer on some lead/escape byte (0 chars out) and are rejected."""
    import codecs as _pyc

    try:
        dec = _pyc.getincrementaldecoder(charset)(errors="replace")
    except LookupError:
        return None
    for b in range(256):
        if len(dec.decode(bytes((b,)))) != 1:
            return None
    if dec.decode(b"", final=True):
        return None
    return 1


def unit_width(charset: str) -> Optional[int]:
    c = charset.lower().replace("_", "-")
    w = _UNIT_WIDTHS.get(c)
    if w is not None:
        return w
    if is_ascii_compatible(charset):
        # raw byte scanner + clean-window fast path own these; routing
        # them through the transcoder would be a regression
        return None
    return _single_byte_codec_width(c)


@functools.lru_cache(maxsize=64)
def lt_safe_multibyte(charset: str) -> bool:
    """True when ``charset`` is a multi-byte codec where the byte 0x3C
    ('<') appears ONLY as the one-byte encoding of '<' itself — never
    inside a multi-byte sequence and never as a lead byte of anything
    else — and no shift/escape state exists. Then every 0x3C in the raw
    stream is a character boundary where a fresh decoder may start, so
    byte-range splits are safe: each task aligns its scan to the first
    '<' at/after its range start and transcodes from there (the per-
    split InputStreamReader decode of XmlInputFormat.scala:76-122,
    extended to CJK codecs with a PROVEN alignment rule instead of an
    assumed one).

    Holds for Shift-JIS/cp932 (trail bytes 0x40+), Big5/cp950 (trail
    0x40+), EUC-JP/KR (all components 0x80+), GBK/GB2312/GB18030
    (trails 0x40+; 4-byte form uses digit bytes 0x30-0x39). Rejects
    ISO-2022-* (ESC-stateful; 0x3C is a legal second byte of a shifted
    2-byte code) and HZ (shift sequences), proven by the sweep below
    rather than by a charset allowlist; UTF-7 is rejected BY NAME — it
    passes every sweep, but RFC 2152 makes the direct form of '<'
    optional, so a conformant file may contain no 0x3C byte at all."""
    c = charset.lower().replace("_", "-")
    if is_ascii_compatible(charset) or unit_width(charset) is not None:
        return False
    import codecs as _pyc

    try:
        canonical = _pyc.lookup(c).name
    except LookupError:
        return False
    if canonical == "utf-7":
        # UTF-7 passes every byte-sweep below (Python's encoder emits
        # '<' directly and base64 runs never contain 0x3C), but the
        # SPEC (RFC 2152) makes direct encoding of set-O chars like '<'
        # OPTIONAL: a conformant producer (e.g. .NET UTF7Encoding) may
        # write '<' as '+ADw-', leaving ZERO 0x3C bytes in the file —
        # '<'-alignment would silently lose every record. No sweep of
        # OUR codec can prove a negative over all conformant encoders,
        # so the alternative-representation family is rejected by name.
        return False
    # the structural chars the transcoded scanner emits patterns for
    # must be ASCII-identical (they are re-encoded as UTF-8 after the
    # transcode, so only '<' alignment strictly needs it — but a codec
    # that remaps ASCII punctuation is not in this family anyway)
    try:
        for ch in "<>/\"' \t\r\n=!?[]-":
            if ch.encode(c) != ch.encode("ascii"):
                return False
    except (UnicodeEncodeError, LookupError):
        return False
    # sweep the BMP (+ an astral sample for 4-byte GB18030 forms):
    # 0x3C anywhere in a non-'<' encoding breaks alignment; 0x1B (ESC) /
    # 0x0E / 0x0F mark shift-state codecs where a fresh decoder cannot
    # start at a raw '<'
    probe = list(range(0x80, 0x10000)) + list(range(0x10000, 0x10200)) \
        + [0x20000, 0x2A6D6]
    multi = False
    samples = []
    for cp in probe:
        if 0xD800 <= cp <= 0xDFFF:
            continue
        try:
            b = chr(cp).encode(c)
        except UnicodeEncodeError:
            continue
        if 0x3C in b or 0x1B in b or 0x0E in b or 0x0F in b:
            return False
        if len(b) > 1:
            multi = True
            if len(samples) < 64 and cp % 251 == 0:
                samples.append(chr(cp))
    if not multi:
        return False
    # functional re-sync proof: encode a STREAM (stateful encoders may
    # merge runs across chars), cut it at the 0x3C byte, and require a
    # fresh decoder on the tail to reproduce '<r>' + suffix exactly —
    # the exact operation the split scanner performs at its boundary
    for s in samples[:16]:
        stream = (s + "<r>" + s).encode(c)
        i = stream.find(b"<")
        if i < 0:
            return False
        if stream[i:].decode(c, errors="replace") != "<r>" + s:
            return False
    return True


@dataclass(frozen=True)
class FileSplit:
    """One reader task's byte range. end == -1 means 'to EOF'."""

    path: str
    start: int
    end: int  # exclusive owner boundary for record *starts*
    compression: Optional[str] = None  # None | 'gzip' | 'bz2' | 'xz' | 'deflate'
    whole_file: bool = False
    # Treat the file as ending at this byte (-1 = real EOF). Streaming
    # replay sets this to the size recorded in the committed offset so a
    # file that grew between snapshot and read yields identical rows; for
    # compressed files it caps the COMPRESSED stream.
    eof: int = -1


class _CapReader:
    """Wrap a binary stream, serving at most ``remaining`` further bytes."""

    __slots__ = ("_fh", "_remaining")

    def __init__(self, fh, remaining: int):
        self._fh = fh
        self._remaining = max(remaining, 0)

    def read(self, n: int = -1) -> bytes:
        if self._remaining <= 0:
            return b""
        if n is None or n < 0 or n > self._remaining:
            n = self._remaining
        chunk = self._fh.read(n)
        self._remaining -= len(chunk)
        return chunk

    def close(self) -> None:
        self._fh.close()


def expand_paths(path) -> List[str]:
    """Resolve a path / directory / glob (or list of them) to data files.
    Local paths and ``file:`` URIs use the stdlib; any other scheme
    (s3://, gs://, hdfs://, ...) routes through the pyarrow.fs seam
    (xmlcore.fs), so remote filesystems work end-to-end."""
    return [p for p, _ in _expand_with_sizes(path)]


def _expand_with_sizes(path) -> List[tuple]:
    paths = [path] if isinstance(path, str) else list(path)
    out: List[tuple] = []
    for p in paths:
        out.extend(fs.list_data_files(p))
    if not out:
        raise FileNotFoundError(f"No input files found under: {path}")
    return out


def plan_splits(
    path,
    charset: str = "UTF-8",
    target_split_size: int = 128 * 1024 * 1024,
    files: Optional[List[tuple]] = None,
) -> List[FileSplit]:
    """Driver-side split planning: uncompressed files in any
    ASCII-compatible, fixed-unit-width (UTF-16/32), stateless
    single-byte (EBCDIC family), or '<'-unambiguous multi-byte
    (Shift-JIS/Big5/EUC/GBK — lt_safe_multibyte) charset are carved
    into byte ranges (the analogue of HDFS splits); compressed files
    (except splittable bz2) and shift-state charsets (ISO-2022, HZ)
    become one whole-file split each. ``files`` accepts a pre-listed
    [(path, size), ...] so callers that already enumerated the tree
    don't list it twice."""
    splits: List[FileSplit] = []
    for f, size in (files if files is not None else _expand_with_sizes(path)):
        comp = codecs.compression_of(f)
        if comp == "bz2" and is_ascii_compatible(charset):
            # bzip2 is block-splittable (Hadoop BYBLOCK semantics,
            # XmlInputFormat.scala:93-103): byte-range splits over the
            # compressed file; each task owns the blocks starting in its
            # range. Multi-stream (pbzip2-style) archives split too — the
            # block reader chains across validated interior stream footers.
            from spark_xml_spark.xmlcore import bz2split

            if bz2split.read_level(f) is None or size <= target_split_size:
                splits.append(FileSplit(f, 0, -1, comp, whole_file=True))
                continue
            n = (size + target_split_size - 1) // target_split_size
            step = (size + n - 1) // n
            for i in range(0, size, step):
                splits.append(FileSplit(f, i, min(i + step, size), comp))
            continue
        if comp is not None or not (
            is_ascii_compatible(charset) or unit_width(charset)
            or lt_safe_multibyte(charset)
        ):
            splits.append(FileSplit(f, 0, -1, comp, whole_file=True))
            continue
        if size <= target_split_size:
            splits.append(FileSplit(f, 0, size if size else 1))
            continue
        n = (size + target_split_size - 1) // target_split_size
        step = (size + n - 1) // n
        w = unit_width(charset)
        if w:
            step += (-step) % w  # unit-aligned boundaries for UTF-16/32
        for i in range(0, size, step):
            splits.append(FileSplit(f, i, min(i + step, size)))
    return splits


class _Buffer:
    """Incrementally-loaded window over a binary stream, addressed by absolute
    offset. Memory stays bounded: consumed prefixes are discarded."""

    __slots__ = ("_fh", "_buf", "_base", "_eof")

    def __init__(self, fh, base: int = 0):
        self._fh = fh
        self._buf = b""
        self._base = base
        self._eof = False

    @property
    def end_loaded(self) -> int:
        return self._base + len(self._buf)

    def ensure(self, abs_pos: int) -> bool:
        """Load until abs_pos is buffered (exclusive). False once EOF blocks it."""
        while not self._eof and self.end_loaded < abs_pos:
            chunk = self._fh.read(_CHUNK)
            if not chunk:
                self._eof = True
                return self.end_loaded >= abs_pos
            self._buf += chunk
        return self.end_loaded >= abs_pos

    def find(self, pattern: bytes, abs_from: int, abs_limit: int = -1) -> int:
        """Absolute position of pattern at/after abs_from, or -1 at EOF.
        With abs_limit >= 0, only matches starting before abs_limit count
        (and no data beyond what's loaded is pulled in)."""
        pos = max(abs_from, self._base)
        while True:
            rel_end = -1
            if abs_limit >= 0:
                rel_end = min(abs_limit, self.end_loaded) - self._base + len(pattern) - 1
                rel_end = min(rel_end, len(self._buf))
            if rel_end >= 0:
                i = self._buf.find(pattern, pos - self._base, rel_end)
            else:
                i = self._buf.find(pattern, pos - self._base)
            if i != -1:
                return self._base + i
            if abs_limit >= 0 and self.end_loaded >= abs_limit + len(pattern):
                return -1
            if self._eof:
                return -1
            keep_from = max(len(self._buf) - len(pattern) + 1, 0)
            chunk = self._fh.read(_CHUNK)
            if not chunk:
                self._eof = True
                continue
            # retry including overlap
            pos = self._base + keep_from
            self._buf += chunk

    def byte_at(self, abs_pos: int) -> Optional[int]:
        if not self.ensure(abs_pos + 1):
            return None
        return self._buf[abs_pos - self._base]

    def slice(self, abs_start: int, abs_end: int) -> bytes:
        self.ensure(abs_end)
        return self._buf[abs_start - self._base: abs_end - self._base]

    def close(self) -> None:
        self._fh.close()

    def discard_to(self, abs_pos: int) -> None:
        """Lazy prefix discard: slicing the buffer per record would memcpy
        the remaining window every time (quadratic per chunk); only compact
        once the consumed prefix is sizeable."""
        if abs_pos - self._base >= _CHUNK // 2:
            self._buf = self._buf[abs_pos - self._base:]
            self._base = abs_pos


def _open_stream(split: FileSplit, start: int):
    """The split's stream positioned at ``start``, capped at the committed
    offset ``split.eof``. Compressed streams other than bzip2 ranges are
    whole-file splits read from byte 0; their cap applies to the
    compressed bytes."""
    if split.compression is not None:
        raw = fs.open_input(split.path)
        if split.eof >= 0:
            raw = _CapReader(raw, split.eof)
        return codecs.wrap_read(raw, split.compression)
    # random-access handle seeked to the start, so a task never pulls
    # bytes before its range (ranged reads on remote stores)
    fh = fs.open_input_at(split.path, start)
    return fh if split.eof < 0 else _CapReader(fh, split.eof - start)


class _Utf8Transcoder:
    """Binary-stream adapter: serves the UTF-8 transcoding of a stream in a
    non-ASCII-compatible charset so the byte-space record loop
    (:func:`_scan_regions` and its quote/comment/CDATA/depth rules) applies
    unchanged — the analogue of the reference's per-split InputStreamReader
    decode (XmlInputFormat.scala:76-122).

    Ownership: ``owned_src_bytes`` counts source bytes belonging to this
    split (-1 = unbounded). Reads are split exactly at that boundary, so
    ``owned_utf8_end`` — the transcoded offset of the first byte produced
    from unowned source — is exact. A surrogate pair straddling the
    boundary is held in decoder state and materializes on the unowned
    side; '<' is a single BMP unit and can never straddle, so record-start
    ownership is unaffected.
    """

    __slots__ = ("_fh", "_dec", "_owned_left", "owned_utf8_end", "_produced",
                 "_src_eof")

    def __init__(self, fh, py_charset: str, owned_src_bytes: int):
        import codecs as _pyc

        self._fh = fh
        self._dec = _pyc.getincrementaldecoder(py_charset)(errors="replace")
        self._owned_left = owned_src_bytes
        self.owned_utf8_end: Optional[int] = None
        self._produced = 0
        self._src_eof = False

    def read(self, n: int = -1) -> bytes:
        while not self._src_eof:
            if self._owned_left > 0:
                src = self._fh.read(min(_CHUNK, self._owned_left))
            else:
                src = self._fh.read(_CHUNK)
            if not src:
                self._src_eof = True
                out = self._dec.decode(b"", final=True).encode("utf-8")
                self._produced += len(out)
                return out
            crossing = False
            if self._owned_left > 0:
                self._owned_left -= len(src)
                crossing = self._owned_left == 0
            out = self._dec.decode(src).encode("utf-8")
            self._produced += len(out)
            if crossing:
                # boundary reached exactly at this chunk's end: everything
                # produced so far came from owned source bytes
                self.owned_utf8_end = self._produced
                self._owned_left = -1
            if out:
                return out
        return b""

    def owns(self, offset: int) -> bool:
        return self.owned_utf8_end is None or offset < self.owned_utf8_end

    def close(self) -> None:
        self._fh.close()


def _resolve_unit_charset(split: FileSplit, charset: str, w: Optional[int]) -> str:
    """Endianness-explicit Python codec name for a unit-width charset.

    Bare 'utf-16'/'utf-32' with a mid-file split needs the file-head BOM
    (there is none mid-stream); absent BOM falls back to LE, matching
    Python's own bare-codec default. Whole-stream reads (split.start == 0
    or compressed) keep the bare codec, which consumes the BOM itself."""
    c = charset.lower().replace("_", "-")
    if c in ("utf-16", "utf-32") and split.start > 0 and split.compression is None:
        with fs.open_input_at(split.path, 0) as fh:
            head = fh.read(w)
        if c == "utf-16":
            return "utf-16-be" if head[:2] == b"\xfe\xff" else "utf-16-le"
        if head[:4] == b"\x00\x00\xfe\xff":
            return "utf-32-be"
        return "utf-32-le"
    return c


class _PrefixedReader:
    """Serve ``head`` bytes, then the rest of ``fh`` — used when the
    '<'-alignment search has already consumed part of the stream."""

    __slots__ = ("_head", "_fh")

    def __init__(self, head: bytes, fh):
        self._head = head
        self._fh = fh

    def read(self, n: int = -1) -> bytes:
        if self._head:
            out = self._head if n < 0 else self._head[:n]
            self._head = self._head[len(out):]
            return out
        return self._fh.read(n)

    def close(self) -> None:
        self._fh.close()


# --- openers ----------------------------------------------------------------
# Each input kind becomes (buffer, first offset, owns, buffer charset) for
# _scan_regions, or None when the split owns nothing. ``owns(p)`` says
# whether a record whose start tag begins at buffer offset p belongs to the
# split; every predicate is monotone (once false, false for every later p).


def _open_plain_range(split: FileSplit, charset: str):
    """ASCII-compatible charsets: raw bytes addressed by file offset; the
    split owns every record start before ``split.end``."""
    end = split.end
    buf = _Buffer(_open_stream(split, split.start), base=split.start)
    return buf, split.start, lambda p: end == -1 or p < end, charset


def _open_transcoded_range(split: FileSplit, charset: str):
    """Every other charset, transcoded to UTF-8 per split by a
    :class:`_Utf8Transcoder` that reports where owned source ends.

    - UTF-16/32 and stateless single-byte codecs (EBCDIC): the range is
      aligned down to the ``unit_width`` grid (a BOM is exactly one unit,
      so the grid is byte 0).
    - '<'-safe multi-byte codecs (Shift-JIS, Big5, EUC, GBK —
      :func:`lt_safe_multibyte`): byte offsets are not character
      boundaries but every 0x3C byte is, so a mid-file range starts at its
      first '<'. No '<' can exist in the unaligned gap, so a record belongs
      to the split whose [start, end) holds its start tag's '<' byte: no
      loss, no duplication. The reference decodes any charset per split
      (XmlInputFormat.scala:76-122) but ASSUMES re-sync; this path only
      runs for codecs where the probe proved it.
    - Stateful codecs (ISO-2022, HZ, UTF-7) and compressed files arrive
      as whole-file splits and are transcoded from byte 0, all owned.

    Invalid bytes decode to U+FFFD, as Java's InputStreamReader does."""
    w = unit_width(charset)
    start, end = split.start, split.end
    if w:
        start -= start % w
        if end >= 0:
            end -= end % w
    if 0 <= end <= start:
        return None
    cs = _resolve_unit_charset(split, charset, w)
    fh = _open_stream(split, start)
    if start > 0 and not w:
        aligned = _align_to_lt(fh, start, end)
        if aligned is None:
            fh.close()
            return None
        fh, start = aligned
    tc = _Utf8Transcoder(fh, cs, -1 if end < 0 else end - start)
    return _Buffer(tc), 0, tc.owns, "utf-8"


def _align_to_lt(fh, pos: int, end: int):
    """``(reader, offset)`` of the first 0x3C byte at/after ``pos`` (a
    guaranteed character boundary in an lt-safe codec; record starts can
    only live at '<' bytes, so nothing ownable precedes it), or None when
    no '<' lies before ``end``. The search is BOUNDED by ``end``: a '<' at
    or beyond it is the right neighbour's to own, so a range inside a
    '<'-free region (huge text node) reads only itself plus one chunk."""
    while True:
        chunk = fh.read(_CHUNK)
        if not chunk:
            return None  # no '<' in the remainder: nothing starts here
        i = chunk.find(b"<")
        if i >= 0:
            pos += i
            return None if 0 <= end <= pos else (_PrefixedReader(chunk[i:], fh), pos)
        pos += len(chunk)
        if 0 <= end <= pos:
            return None


def _open_bz2_range(split: FileSplit, charset: str):
    """Block-aligned bzip2 range: decompress from the first owned block,
    own every record whose start tag begins inside the owned blocks'
    bytes, continue into later blocks only to finish a straddling record
    (Hadoop BYBLOCK semantics — see the bz2split module docstring)."""
    from spark_xml_spark.xmlcore import bz2split

    end = split.end if split.end != -1 else fs.size_of(split.path)
    stream = bz2split.open_block_range(split.path, split.start, end)
    if stream is None:
        return None
    return _Buffer(stream), 0, stream.owns, charset


def scan_split(split: FileSplit, row_tag: str, charset: str = "UTF-8") -> Iterator[str]:
    """Yield decoded record strings whose start tag begins inside the split.

    Ownership contract: same-name tags nested INSIDE a record are depth-
    counted correctly once the record's start is owned, but the first-
    start scan after a split boundary is context-free — a rowTag element
    nested inside itself directly after the boundary is claimed as a
    record (records are never lost, the nested fragment may duplicate).
    This is byte-for-byte the reference's behavior
    (XmlInputFormat.scala:193-224 readUntilStartElement); the supported
    contract is rowTag elements that do not self-nest. Property-tested in
    tests/test_property_roundtrip.py."""
    return window_records(scan_split_windows(split, row_tag, charset))


def window_records(items) -> Iterator[str]:
    """Flatten :func:`scan_split_windows` items into record strings, in
    document order."""
    for item in items:
        if item[0] == "rec":
            yield item[1]
        else:
            text, spans = item[1], item[2]
            for s, e in spans:
                yield text[s:e]


# single-byte charsets: one byte == one character, so byte offsets from the
# window scanner are valid str offsets after decoding
_SINGLE_BYTE_PREFIXES = ("ascii", "latin", "iso-8859", "cp12", "koi8")


def scan_split_windows(
    split: FileSplit, row_tag: str, charset: str = "UTF-8"
) -> Iterator[tuple]:
    """Window-granular variant of :func:`scan_split` — the fused-scan
    interface for the columnar reader. Yields, in document order:

    - ``("win", text, spans)``: a provably-clean batch window decoded
      ONCE; ``spans`` are ``(start, end)`` *str* offsets of the owned
      records inside ``text``. Emitted for every input kind (plain and
      compressed files, bzip2 block ranges, transcoded UTF-16/32, EBCDIC
      and CJK ranges) whenever byte offsets are valid str offsets: a
      single-byte ASCII-compatible charset, or an all-ASCII window — so
      downstream can run a learned whole-record regex straight over the
      window without per-record slicing/decoding.
    - ``("rec", record_str)``: one decoded record from the exact path
      (dirty or non-ASCII windows).

    scan_split() is the flattening wrapper, so both views share one
    scanner and one ownership rule."""
    if split.compression == "bz2" and not split.whole_file:
        opened = _open_bz2_range(split, charset)
    elif is_ascii_compatible(charset):
        opened = _open_plain_range(split, charset)
    else:
        opened = _open_transcoded_range(split, charset)
    if opened is None:
        return
    buf, pos, owns, buf_charset = opened
    try:
        yield from _scan_regions(buf, row_tag, pos, owns, buf_charset)
    finally:
        buf.close()


def _scan_regions(buf: _Buffer, row_tag: str, pos: int, owns, charset: str):
    """The one record-region loop behind every input kind: scan ``buf``
    (bytes in ``charset``) from ``pos`` and yield ``("win", text, spans)``
    / ``("rec", record)`` items for the records whose start ``owns``
    admits.

    Each loaded window is first offered to :func:`_batch_scan_window`
    (one C regex pass per window instead of ~10 C calls per record); a
    clean window becomes one "win" item when byte offsets are valid str
    offsets, else one "rec" per span. Windows with quoted attributes are
    clean as long as their tags are safe (see :data:`_UNSAFE_LT`).
    Anything unprovable takes the exact per-record path; ``dirty_until``
    stops re-scanning a rejected window per record (which would be
    quadratic on e.g. misaligned or self-nesting rows).
    ``owns`` is monotone, so a window is filtered only when its last span
    is unowned, and the first unowned start ends the scan."""
    tag = row_tag.encode(charset if is_ascii_compatible(charset) else "utf-8")
    start_pat = b"<" + tag
    end_pat = b"</" + tag
    single_byte = charset.lower().replace("_", "-").startswith(
        _SINGLE_BYTE_PREFIXES
    )
    dirty_until = -1  # loaded bytes already proven batch-unfriendly
    while True:
        if pos >= dirty_until:
            buf.ensure(pos + _CHUNK)
            spans, new_pos, mark_dirty = _batch_scan_window(
                buf, start_pat, end_pat, pos
            )
            if spans:
                past_limit = not owns(spans[-1][0])
                if past_limit:
                    spans = [(s, e) for s, e in spans if owns(s)]
                if spans:
                    lo, hi = spans[0][0], spans[-1][1]
                    wb = buf.slice(lo, hi)
                    if single_byte or wb.isascii():
                        yield (
                            "win",
                            wb.decode(charset, errors="replace"),
                            [(s - lo, e - lo) for s, e in spans],
                        )
                    else:
                        for s, e in spans:
                            yield (
                                "rec",
                                buf.slice(s, e).decode(charset, errors="replace"),
                            )
                if past_limit:
                    return
                pos = new_pos
                buf.discard_to(pos)
                continue
            if mark_dirty:
                dirty_until = buf.end_loaded
        i = _find_start_tag(buf, start_pat, pos)
        if i == -1 or not owns(i):
            return
        rec_end = _find_record_end(buf, start_pat, end_pat, i)
        if rec_end == -1:
            return  # unterminated trailing record: no full row region
        yield ("rec", buf.slice(i, rec_end).decode(charset, errors="replace"))
        pos = rec_end
        buf.discard_to(pos)


# A '<' that opens markup ('<!', '<?') or does not open a *safe* tag: one
# that runs to the first '>' outside quotes, with no '<' or '>' inside a
# quoted value. Over safe tags the quote-naive batch regexes and the
# quote-aware walk (_scan_tag_end) agree on every tag end, and no '<row' or
# '</row' can hide in a value. Comments, CDATA and PIs have the shape of a
# safe tag but can hide a rowTag, hence the '<!' / '<?' branch.
_UNSAFE_LT = re.compile(
    rb"<(?:[!?]|(?![^<>\"']*(?:(?:\"[^\"<>]*\"|'[^'<>]*')[^<>\"']*)*>))"
)

# A batch window spans at most this many bytes. Its span lists and decoded
# text cost ~10x its size on dense small records, so windows stay a
# fraction of a chunk to keep the scan's memory ~ max record + chunk.
_WINDOW = _CHUNK >> 2

_BATCH_RE_CACHE: dict = {}


def _batch_patterns(start_pat: bytes, end_pat: bytes):
    key = (start_pat, end_pat)
    pair = _BATCH_RE_CACHE.get(key)
    if pair is None:
        pair = (
            re.compile(re.escape(start_pat) + rb"[ \t\r\n>/]"),
            re.compile(re.escape(end_pat) + rb"[ \t\r\n]*>"),
        )
        _BATCH_RE_CACHE[key] = pair
    return pair


def _batch_scan_window(buf: _Buffer, start_pat: bytes, end_pat: bytes, pos: int):
    """Extract complete record spans from the loaded window at C speed,
    or (None, pos) when the window can't be adjudicated wholesale.

    The window is cut at its first offender: a comment/CDATA/DOCTYPE
    ('<!') or PI ('<?') opener, or — when the window holds a quote at
    all — the first '<' that does not open a safe tag (:data:`_UNSAFE_LT`;
    e.g. '>' or '</row>' inside an attribute value, an unbalanced quote).
    Every tag before the cut is safe, so quoted attributes and quotes in
    text are admitted. Any start/end misalignment (nested same-name tags,
    self-closing rows, stray end tags) still sends the whole window to
    the exact per-record path. Each window (at most :data:`_WINDOW`
    bytes) costs two C regex passes and two comparisons per record
    instead of ~10 buffer searches per record; quote-bearing windows add
    one C search for an unsafe '<'."""
    data, base = buf._buf, buf._base
    off = pos - base
    # Cut at _WINDOW bytes, then at the first offender, so e.g. the XML
    # declaration at the file head only excludes itself. Quote-free windows
    # need only two memchr-speed finds; the unsafe-tag search runs near the
    # speed of the whole scan, so only quote-bearing windows pay for it,
    # and it stops at the first offender of any kind, so a retry next to
    # one stays short. Everything runs on the loaded buffer in place: a
    # rejected window costs no copy.
    cut = min(len(data), off + _WINDOW)
    if data.find(b'"', off, cut) >= 0 or data.find(b"'", off, cut) >= 0:
        m = _UNSAFE_LT.search(data, off, cut)
        if m is not None:
            cut = m.start()
    else:
        for pat in (b"<!", b"<?"):
            i = data.find(pat, off, cut)
            if i >= 0:
                cut = i
    if cut - off < 1024:
        return None, pos, False  # offender too close: cheap retry later
    s_re, e_re = _batch_patterns(start_pat, end_pat)
    starts = [m.start() for m in s_re.finditer(data, off, cut)]
    if not starts:
        return None, pos, True
    # end tags BEFORE the first start are the tail of a record owned by the
    # previous split (every non-first split begins mid-record) — skip them
    # rather than rejecting the window; stray ends between records still
    # fail the alignment check below.
    ends = [m.span() for m in e_re.finditer(data, off, cut) if m.start() > starts[0]]
    n = min(len(starts), len(ends))
    if n == 0:
        return None, pos, True
    spans = []
    for k in range(n):
        s = starts[k]
        es, ee = ends[k]
        if es <= s:
            return None, pos, True  # stray end tag before its start
        if k + 1 < len(starts) and starts[k + 1] < ee:
            return None, pos, True  # nested same-name or self-closing row
        spans.append((base + s, base + ee))
    return spans, base + ends[n - 1][1], False


def _find_start_tag(buf: _Buffer, start_pat: bytes, abs_from: int) -> int:
    """Next genuine rowTag start tag: '<tag' followed by a name-ending byte
    (XmlInputFormat.scala:193-224). Comments / CDATA / PIs found before the
    candidate are skipped so a rowTag inside them can't start a record."""
    pos = abs_from
    while True:
        i = buf.find(start_pat, pos)
        if i == -1:
            return -1
        # Skip any non-element markup that opens before the candidate
        # (bounded searches: nothing past i is loaded by them).
        openers = [
            m
            for opener in _MARKUP_OPENERS
            for m in (buf.find(opener, pos, i),)
            if m != -1 and m < i
        ]
        if openers:
            nxt = _skip_markup(buf, min(openers))
            if nxt == -1:
                return -1
            pos = nxt
            continue
        nxt = buf.byte_at(i + len(start_pat))
        if nxt is None:
            return -1
        if chr(nxt) in _NAME_END:
            return i
        pos = i + 1


def _skip_markup(buf: _Buffer, i: int) -> int:
    """Position just past a non-element markup construct starting at '<', or
    -1 at EOF. Handles comments, CDATA, processing instructions."""
    b1 = buf.byte_at(i + 1)
    if b1 is None:
        return -1
    if b1 == ord("!"):
        if buf.slice(i, i + 4) == b"<!--":
            j = buf.find(b"-->", i + 4)
            return -1 if j == -1 else j + 3
        if buf.slice(i, i + 9) == b"<![CDATA[":
            j = buf.find(b"]]>", i + 9)
            return -1 if j == -1 else j + 3
        j = buf.find(b">", i + 1)
        return -1 if j == -1 else j + 1
    if b1 == ord("?"):
        j = buf.find(b"?>", i + 1)
        return -1 if j == -1 else j + 2
    return -2  # a real element tag


# a start tag (name + attributes) longer than this is declared malformed:
# bounds the quote-aware walk when an UNBALANCED attribute quote would
# otherwise swallow the rest of the stream
_MAX_TAG_BYTES = 1 << 20


def _scan_tag_end(buf: _Buffer, i: int) -> Tuple[int, bool]:
    """From '<' at i, find the tag's closing '>' quote-aware.
    Returns (pos after '>', self_closing).

    Malformed-quote recovery: when the quote-aware walk hits EOF or the
    tag-size bound while a quote is open (e.g. ``id="broken " extra "``),
    the tag is judged malformed and the scan DEGRADES to the reference's
    quote-naive rule — the first '>' ends the tag (XmlInputFormat does no
    quote tracking at all) — so one bad record cannot swallow the split's
    remaining valid records; the parser's mode policy then judges the
    mis-framed record itself."""
    # fast path: a safe tag (_UNSAFE_LT) ends at its first '>'; unbalanced
    # quotes and '<' or '>' inside a value take the walk below
    j = buf.find(b">", i + 1)
    if j != -1:
        tag = buf.slice(i, j + 1)
        if _UNSAFE_LT.match(tag) is None:
            return j + 1, tag[1:-1].rstrip(b" \t\r\n").endswith(b"/")
    p = i + 1
    quote = 0
    last = 0
    limit = i + _MAX_TAG_BYTES
    while True:
        b = buf.byte_at(p)
        if b is None or p > limit:
            # degrade to the quote-naive rule when a quote is unbalanced
            # (EOF or bound) OR the size bound was hit with quotes balanced
            # (an over-long but well-formed tag must not silently vanish —
            # the first '>' mis-frames at worst, exactly what the reference
            # would do). EOF with balanced quotes stays -1: the tag is
            # genuinely unterminated (split/stream boundary).
            if j != -1 and (quote or p > limit):
                head = buf.slice(i + 1, j)
                return j + 1, head.rstrip(b" \t\r\n").endswith(b"/")
            return -1, False
        if quote:
            if b == quote:
                quote = 0
        elif b in (ord('"'), ord("'")):
            quote = b
        elif b == ord(">"):
            return p + 1, last == ord("/")
        if b not in (ord(" "), ord("\t"), ord("\n"), ord("\r")):
            last = b
        p += 1


def _find_record_end(buf: _Buffer, start_pat: bytes, end_pat: bytes, rec_start: int) -> int:
    """From the record's start tag, return the absolute position just past its
    matching end tag (depth-counting same-name nesting,
    XmlInputFormat.scala:226-313).

    Fast path: jump directly to the next ``</rowTag`` occurrence and accept
    it if the intervening bytes contain no nested same-name start tag and no
    comment/CDATA/PI opener (one C-level ``find`` + a few substring checks
    per record instead of a Python visit of every '<'). Records that do
    contain such constructs fall back to the exact depth-counting walk —
    ~4x tokenizer throughput on flat row-oriented data."""
    after, self_closing = _scan_tag_end(buf, rec_start)
    if after == -1:
        return -1
    if self_closing:
        return after
    e = buf.find(end_pat, after)
    if e != -1:
        nxt = buf.byte_at(e + len(end_pat))
        if nxt is not None and nxt in _END_TAG_OK:
            window = buf.slice(after, e)
            if not _window_needs_slow_scan(window, start_pat):
                close = buf.find(b">", e + len(end_pat))
                return -1 if close == -1 else close + 1
    depth = 1
    pos = after
    tag_len = len(start_pat)
    while True:
        lt = buf.find(b"<", pos)
        if lt == -1:
            return -1
        skipped = _skip_markup(buf, lt)
        if skipped == -1:
            return -1
        if skipped != -2:
            pos = skipped
            continue
        if buf.slice(lt, lt + len(end_pat)) == end_pat:
            nxt = buf.byte_at(lt + len(end_pat))
            if nxt is not None and nxt in _END_TAG_OK:
                close = buf.find(b">", lt + len(end_pat))
                if close == -1:
                    return -1
                depth -= 1
                pos = close + 1
                if depth == 0:
                    return pos
                continue
        if buf.slice(lt, lt + tag_len) == start_pat:
            nxt = buf.byte_at(lt + tag_len)
            if nxt is not None and chr(nxt) in _NAME_END:
                after, self_closing = _scan_tag_end(buf, lt)
                if after == -1:
                    return -1
                if not self_closing:
                    depth += 1
                pos = after
                continue
        after, _sc = _scan_tag_end(buf, lt)
        if after == -1:
            return -1
        pos = after


def _window_needs_slow_scan(window: bytes, start_pat: bytes) -> bool:
    """True when the bytes between a start tag and the first end-tag
    candidate contain anything the fast path can't adjudicate: a genuine
    nested same-name start tag, or a '<' that :data:`_UNSAFE_LT` flags —
    non-element markup that could hide a rowTag (comment / CDATA / PI)
    or a tag that is not safe (an end-tag byte sequence inside a quoted
    value must not close the record; the slow path's _scan_tag_end is
    quote-aware, so such content goes there to keep both paths'
    semantics identical)."""
    if _UNSAFE_LT.search(window):
        return True
    i = window.find(start_pat)
    while i != -1:
        j = i + len(start_pat)
        if j >= len(window) or chr(window[j]) in _NAME_END:
            return True
        i = window.find(start_pat, i + 1)
    return False


def scan_string(text: str, row_tag: str) -> Iterator[str]:
    """Scan an in-memory document (schema_of_xml over whole documents);
    every record start is owned."""
    import io

    buf = _Buffer(io.BytesIO(text.encode("utf-8")))
    return window_records(_scan_regions(buf, row_tag, 0, lambda p: True, "utf-8"))
