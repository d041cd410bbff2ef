"""MARC format calculation from leader/007/008 + record-level cues.

Behavioral spec: Record/Marc/FormatCalculator.php (the whole file —
getFormatsAsList :726-825, getFormatFrom007 :142-255, getFormatFromRecordType
:373-505, getFormatFromBibLevel :268-356, isElectronic :545-576,
isGovernmentDocument :584-588, isThesis :596-600, hasSerialHost :608-627,
isConferenceProceeding :526-537, isOnlineAccordingTo338 :655-672,
getFormatsFrom33xFields :683-718) in the reference.

Format equality is a HARD GATE in dedup verification (DedupHandler.php:786-808),
so this must be the real decision tree, not an approximation.

Spark-first design: the whole tree is pure Column expressions over the parsed
MARC struct — substring probes, when-chains, and higher-order array functions
(transform/exists/aggregate). Everything stays inside whole-stage codegen; no
Python round trip per record. ``formats_as_list`` is the faithful Python model
of the same tree, used by golden tests to cross-check the Column version.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from recordmanager_spark.sparkcompat import let1

# ---------------------------------------------------------------------------
# Python model (reference-faithful; used for tests and documentation)
# ---------------------------------------------------------------------------


def _get008(f008: str, pos: int) -> str:
    """get008Value: lowercased char at pos, ' ' when out of range (PHP
    ``substr(...) ?: ' '``)."""
    return f008[pos].lower() if f008 and len(f008) > pos else " "


def _format_from_007(code: str, s: str) -> str:
    """getFormatFrom007 (FormatCalculator.php:142-255)."""
    c2 = s[1] if len(s) > 1 else " "
    if code == "a":
        return "Atlas" if c2 == "d" else "Map"
    if code == "c":
        m = {
            "a": "TapeCartridge", "b": "ChipCartridge", "c": "DiscCartridge",
            "f": "TapeCassette", "h": "TapeReel", "j": "FloppyDisk",
            "m": "CDROM", "o": "CDROM",
            # 'r' (remote) returns nothing — otherwise anything with an 856
            # would be labeled Electronic
            "r": "",
        }
        return m.get(c2, "ElectronicResource")
    if code == "d":
        return "Globe"
    if code == "f":
        return "Braille"
    if code == "g":
        if c2 in ("c", "d", "f", "o"):
            return "Filmstrip"
        if c2 == "t":
            return "Transparency"
        return "Slide"
    if code == "h":
        return "Microfilm"
    if code == "k":
        m = {
            "c": "Collage", "d": "Drawing", "e": "Painting", "f": "Print",
            "g": "Photonegative", "j": "Print", "k": "Poster", "l": "Drawing",
            "n": "Chart", "o": "FlashCard", "p": "Postcard", "s": "Print",
        }
        return m.get(c2, "Photo")
    if code == "m":
        return {"f": "VideoCassette", "r": "Filmstrip"}.get(c2, "MotionPicture")
    if code == "o":
        return "Kit"
    if code == "q":
        return "MusicalScore"
    if code == "r":
        return "SensorImage"
    if code == "s":
        return {"d": "SoundDisc", "s": "SoundCassette"}.get(c2, "SoundRecording")
    if code == "v":
        if c2 == "c":
            return "VideoCartridge"
        if c2 == "d":
            c5 = s[4] if len(s) > 4 else " "
            return "BRDisc" if c5 == "s" else "VideoDisc"
        if c2 == "f":
            return "VideoCassette"
        if c2 == "r":
            return "VideoReel"
        return "VideoOnline"  # assume other video is online
    return ""


def _format_from_record_type(
    rtype: str, f008: str, codes007: list[str], is_thesis: bool
) -> str:
    """getFormatFromRecordType (FormatCalculator.php:373-505)."""
    if rtype == "a":
        return ""  # Language material -> 'Text' fallback below
    if rtype in ("c", "d"):
        return "MusicalScore"
    if rtype in ("e", "f"):
        v = _get008(f008, 25)
        if v == "d":
            return "Globe"
        if v == "e":
            return "Atlas"
        return "Map"
    if rtype == "g":
        v = _get008(f008, 33)
        if v == "f":
            return "Filmstrip"
        if v == "t":
            return "Transparency"
        if v == "m":
            return "MotionPicture"
        if v == "v":
            return "Video"
        if _get008(f008, 34) in ("a", "c", "l", "u", "z"):  # technique => video
            return "Video"
        # a 007 for projected graphic / motion picture / video has more info
        if any(c in codes007 for c in ("g", "m", "v")):
            return ""
        return "ProjectedMedium"
    if rtype == "i":
        return "SoundRecording"
    if rtype == "j":
        return "MusicRecording"
    if rtype == "k":
        v = _get008(f008, 33)
        if v == "l":
            return "Drawing"
        if v == "n":
            return "Chart"
        if v == "o":
            return "FlashCard"
        return "" if "k" in codes007 else "Image"
    if rtype == "m":
        v = _get008(f008, 26)
        m = {
            "a": "DataSet", "b": "Software", "c": "Image", "e": "DataSet",
            "f": "Font", "g": "VideoGame", "h": "SoundRecording",
            "i": "InteractiveMultimedia",
        }
        return m.get(v, "")
    if rtype in ("o", "p"):
        return "Kit"
    if rtype == "r":
        return "PhysicalObject"
    if rtype == "t":
        return "" if is_thesis else "Manuscript"
    return ""


def _format_from_bib_level(
    rtype: str,
    blevel: str,
    f008: str,
    could_be_book: bool,
    serial_host: bool,
    is_conference: bool,
) -> str:
    """getFormatFromBibLevel (FormatCalculator.php:268-356)."""
    if blevel == "a":
        return "Article" if serial_host else "BookComponentPart"
    if blevel == "b":
        return "SerialComponentPart"
    if blevel in ("c", "d"):
        return ""  # -> Kit in the fallback
    if blevel == "i":  # integrating resource
        if rtype == "a":
            if _get008(f008, 21) in ("h", "w"):  # blog / updating web site
                return "Website"
            if _get008(f008, 22) in ("o", "q", "s"):
                return "OnlineIntegratingResource"
        return "PhysicalIntegratingResource"
    if blevel == "m":  # monograph
        if could_be_book:
            if rtype in ("a", "t"):
                if _get008(f008, 23) in ("o", "q", "s"):
                    return "eBook"
            elif rtype == "m":
                # specific computer-file types already excluded from books
                return "eBook"
            return "Book"
        return ""
    if blevel == "s":  # serial
        if rtype == "a":
            v = _get008(f008, 21)
            if v == "n":
                return "Newspaper"
            if v == "p":
                return "Journal"
        if not is_conference:
            return "Serial"
        return ""
    return ""


def formats_as_list(
    leader: str | None,
    f007s,
    f008: str | None,
    *,
    has_086: bool = False,
    has_502: bool = False,
    has_111: bool = False,
    has_711: bool = False,
    serial_host: bool = False,
    f245_h: str = "",
    video_336: bool = False,
    online_338: bool = False,
) -> list[str]:
    """Python model of FormatCalculator::getFormatsAsList + getFormats dedup.

    Record-level cues the tree needs beyond leader/007/008 are passed as
    keyword flags: 086 (government document), 502 (thesis), 111/711
    (conference), 773$g (serial host), 245$h (electronic-resource marker),
    336 tdi/rdacontent (video content), 338 cr/rdacarrier (online carrier).
    """
    leader = leader or ""
    f008 = f008 or ""
    f007s = [s.lower() for s in (f007s or []) if s]
    rtype = leader[6].lower() if len(leader) > 6 else " "
    blevel = leader[7].lower() if len(leader) > 7 else " "
    is_thesis = has_502
    is_conference = has_111 or has_711
    is_electronic = (
        "[electronic resource]" in (f245_h or "").lower()
        or rtype == "m"
        or online_338
    )

    result: list[str] = []
    could_be_book = True

    if has_086:
        result.append("GovernmentDocument")
    if is_thesis:
        result.append("Thesis")
    if is_electronic:
        result.append("Electronic")
    if is_conference:
        result.append("ConferenceProceeding")

    formats_33x: list[str] = []
    if video_336:
        formats_33x.append("Video")
        if online_338:
            formats_33x.append("VideoOnline")
    if formats_33x:
        could_be_book = False
        result.extend(formats_33x)

    codes007: list[str] = []
    for s in f007s:
        code = s[0] if s else " "
        codes007.append(code)
        if code in ("g", "k", "m", "v"):  # definitelyNotBookBasedOn007
            could_be_book = False
        if code == "v":
            result.append("Video")
        fmt = _format_from_007(code, s)
        if fmt:
            result.append(fmt)

    # definitelyNotBookBasedOnRecordType
    if rtype == "m":
        if _get008(f008, 26) not in ("d", "i", "m", "u", "z"):
            could_be_book = False
    elif rtype in ("e", "f", "g", "i", "j", "k", "r"):
        could_be_book = False

    if not formats_33x:  # 33x results suppress the record-type probe
        fmt = _format_from_record_type(rtype, f008, codes007, is_thesis)
        if fmt:
            result.append(fmt)

    fmt = _format_from_bib_level(
        rtype, blevel, f008, could_be_book, serial_host, is_conference
    )
    if fmt:
        result.append(fmt)

    if not result:
        if blevel in ("c", "d"):
            result.append("Kit")
        elif rtype == "a":
            result.append("Text")
        else:
            result.append("Unknown")

    seen: set[str] = set()
    out = []
    for r in result:
        if r not in seen:
            seen.add(r)
            out.append(r)
    return out


# ---------------------------------------------------------------------------
# Column-expression implementation (the production path)
# ---------------------------------------------------------------------------


def _c008(f008: Column, pos: int) -> Column:
    # PHP substr is 0-based; Spark substring is 1-based. Out-of-range gives
    # '' which (like the reference's ' ') matches no letter branch.
    return F.lower(F.substring(f008, pos + 1, 1))


def _fmt_007_col(s: Column) -> Column:
    """getFormatFrom007 as one when-chain over a lowercased 007 string."""
    code = F.substring(s, 1, 1)
    c2 = F.substring(s, 2, 1)
    c5 = F.substring(s, 5, 1)

    def chain(pairs, default):
        e = None
        for k, v in pairs:
            e = (F.when(c2 == k, v) if e is None else e.when(c2 == k, v))
        return e.otherwise(default) if e is not None else F.lit(default)

    return (
        F.when(code == "a", F.when(c2 == "d", "Atlas").otherwise("Map"))
        .when(code == "c", chain(
            [("a", "TapeCartridge"), ("b", "ChipCartridge"),
             ("c", "DiscCartridge"), ("f", "TapeCassette"), ("h", "TapeReel"),
             ("j", "FloppyDisk"), ("m", "CDROM"), ("o", "CDROM"), ("r", "")],
            "ElectronicResource"))
        .when(code == "d", "Globe")
        .when(code == "f", "Braille")
        .when(code == "g", chain(
            [("c", "Filmstrip"), ("d", "Filmstrip"), ("f", "Filmstrip"),
             ("o", "Filmstrip"), ("t", "Transparency")], "Slide"))
        .when(code == "h", "Microfilm")
        .when(code == "k", chain(
            [("c", "Collage"), ("d", "Drawing"), ("e", "Painting"),
             ("f", "Print"), ("g", "Photonegative"), ("j", "Print"),
             ("k", "Poster"), ("l", "Drawing"), ("n", "Chart"),
             ("o", "FlashCard"), ("p", "Postcard"), ("s", "Print")], "Photo"))
        .when(code == "m", chain(
            [("f", "VideoCassette"), ("r", "Filmstrip")], "MotionPicture"))
        .when(code == "o", "Kit")
        .when(code == "q", "MusicalScore")
        .when(code == "r", "SensorImage")
        .when(code == "s", chain(
            [("d", "SoundDisc"), ("s", "SoundCassette")], "SoundRecording"))
        .when(
            code == "v",
            F.when(c2 == "c", "VideoCartridge")
            .when(c2 == "d", F.when(c5 == "s", "BRDisc").otherwise("VideoDisc"))
            .when(c2 == "f", "VideoCassette")
            .when(c2 == "r", "VideoReel")
            .otherwise("VideoOnline"),
        )
        .otherwise("")
    )


def _subfield_eq(field: Column, code: str) -> Column:
    """First occurrence of a subfield code in a field ('' if absent) —
    getSubfieldOrDefault with '' default."""
    vals = F.filter(
        F.coalesce(field["subfields"], F.array()),
        lambda sub: sub["code"] == code,
    )
    return F.coalesce(F.try_element_at(vals, F.lit(1))["value"], F.lit(""))


def format_col(marc: Column) -> Column:
    """array<string> of record formats — the Column twin of
    ``formats_as_list`` over the parsed MARC struct (leader + fields).

    The record-level cues the tree reads more than once are bound once
    (``let1`` over one struct) and the tree reads them by field name."""
    fields = marc["fields"]
    leader = F.coalesce(marc["leader"], F.lit(""))

    def ctl(tag: str) -> Column:
        vals = F.filter(
            fields, lambda f: (f["tag"] == tag) & f["value"].isNotNull()
        )
        return F.coalesce(F.try_element_at(vals, F.lit(1))["value"], F.lit(""))

    def has_tag(tag: str) -> Column:
        return F.exists(fields, lambda f: f["tag"] == tag)

    def _33x_match(tag: str, desc: str, code: str, source: str) -> Column:
        return F.exists(
            fields,
            lambda f: (f["tag"] == tag)
            & ((_subfield_eq(f, "a") == desc) | (_subfield_eq(f, "b") == code))
            & (_subfield_eq(f, "2") == source),
        )

    cues = F.struct(
        F.lower(F.substring(leader, 7, 1)).alias("rtype"),
        F.lower(F.substring(leader, 8, 1)).alias("blevel"),
        ctl("008").alias("f008"),
        F.transform(
            F.filter(
                fields, lambda f: (f["tag"] == "007") & f["value"].isNotNull()
            ),
            lambda f: F.lower(f["value"]),
        ).alias("f007s"),
        has_tag("502").alias("is_thesis"),
        (has_tag("111") | has_tag("711")).alias("is_conference"),
        _33x_match("338", "online resource", "cr", "rdacarrier").alias(
            "online_338"
        ),
        _33x_match(
            "336", "two-dimensional moving image", "tdi", "rdacontent"
        ).alias("video_336"),
    )
    return let1(cues, lambda cue: _format_tree(fields, cue))


def _format_tree(fields: Column, cue: Column) -> Column:
    """The decision tree of :func:`format_col` over its bound cues."""
    rtype, blevel = cue["rtype"], cue["blevel"]
    f008, f007s = cue["f008"], cue["f007s"]
    is_thesis, is_conference = cue["is_thesis"], cue["is_conference"]
    online_338, video_336 = cue["online_338"], cue["video_336"]

    has_086 = F.exists(fields, lambda f: f["tag"] == "086")
    serial_host = F.exists(
        fields,
        lambda f: (f["tag"] == "773")
        & F.exists(
            F.coalesce(f["subfields"], F.array()),
            lambda s: (s["code"] == "g") & (F.coalesce(s["value"], F.lit("")) != ""),
        ),
    )
    f245 = F.try_element_at(F.filter(fields, lambda f: f["tag"] == "245"), F.lit(1))
    f245_h = F.coalesce(
        F.try_element_at(
            F.filter(
                F.coalesce(f245["subfields"], F.array()),
                lambda s: s["code"] == "h",
            ),
            F.lit(1),
        )["value"],
        F.lit(""),
    )

    is_electronic = (
        F.lower(f245_h).contains("[electronic resource]")
        | (rtype == "m")
        | online_338
    )

    codes007 = F.transform(f007s, lambda s: F.substring(s, 1, 1))
    has_007 = lambda *cs: F.exists(  # noqa: E731
        codes007, lambda c: c.isin(*cs)
    )

    not_book_007 = has_007("g", "k", "m", "v")
    not_book_rtype = F.when(
        rtype == "m", ~_c008(f008, 26).isin("d", "i", "m", "u", "z")
    ).otherwise(rtype.isin("e", "f", "g", "i", "j", "k", "r"))
    could_be_book = ~(not_book_007 | not_book_rtype | video_336)

    # --- getFormatFromRecordType (suppressed when 33x matched) -------------
    p25, p26, p33, p34 = (_c008(f008, p) for p in (25, 26, 33, 34))
    fmt_rtype = (
        F.when(rtype.isin("c", "d"), "MusicalScore")
        .when(
            rtype.isin("e", "f"),
            F.when(p25 == "d", "Globe").when(p25 == "e", "Atlas").otherwise("Map"),
        )
        .when(
            rtype == "g",
            F.when(p33 == "f", "Filmstrip")
            .when(p33 == "t", "Transparency")
            .when(p33 == "m", "MotionPicture")
            .when(p33 == "v", "Video")
            .when(p34.isin("a", "c", "l", "u", "z"), "Video")
            .when(has_007("g", "m", "v"), "")
            .otherwise("ProjectedMedium"),
        )
        .when(rtype == "i", "SoundRecording")
        .when(rtype == "j", "MusicRecording")
        .when(
            rtype == "k",
            F.when(p33 == "l", "Drawing")
            .when(p33 == "n", "Chart")
            .when(p33 == "o", "FlashCard")
            .when(has_007("k"), "")
            .otherwise("Image"),
        )
        .when(
            rtype == "m",
            F.when(p26.isin("a", "e"), "DataSet")
            .when(p26 == "b", "Software")
            .when(p26 == "c", "Image")
            .when(p26 == "f", "Font")
            .when(p26 == "g", "VideoGame")
            .when(p26 == "h", "SoundRecording")
            .when(p26 == "i", "InteractiveMultimedia")
            .otherwise(""),
        )
        .when(rtype.isin("o", "p"), "Kit")
        .when(rtype == "r", "PhysicalObject")
        .when(rtype == "t", F.when(is_thesis, "").otherwise("Manuscript"))
        .otherwise("")
    )
    fmt_rtype = F.when(video_336, "").otherwise(fmt_rtype)

    # --- getFormatFromBibLevel ---------------------------------------------
    p21, p22, p23 = (_c008(f008, p) for p in (21, 22, 23))
    fmt_blevel = (
        F.when(
            blevel == "a",
            F.when(serial_host, "Article").otherwise("BookComponentPart"),
        )
        .when(blevel == "b", "SerialComponentPart")
        .when(
            blevel == "i",
            F.when(
                rtype == "a",
                F.when(p21.isin("h", "w"), "Website")
                .when(p22.isin("o", "q", "s"), "OnlineIntegratingResource")
                .otherwise("PhysicalIntegratingResource"),
            ).otherwise("PhysicalIntegratingResource"),
        )
        .when(
            blevel == "m",
            F.when(
                could_be_book,
                F.when(
                    rtype.isin("a", "t"),
                    F.when(p23.isin("o", "q", "s"), "eBook").otherwise("Book"),
                )
                .when(rtype == "m", "eBook")
                .otherwise("Book"),
            ).otherwise(""),
        )
        .when(
            blevel == "s",
            F.when(rtype == "a",
                   F.when(p21 == "n", "Newspaper")
                   .when(p21 == "p", "Journal")
                   .otherwise(F.when(is_conference, "").otherwise("Serial")))
            .otherwise(F.when(is_conference, "").otherwise("Serial")),
        )
        .otherwise("")
    )

    specials = F.array(
        F.when(has_086, "GovernmentDocument").otherwise(""),
        F.when(is_thesis, "Thesis").otherwise(""),
        F.when(is_electronic, "Electronic").otherwise(""),
        F.when(is_conference, "ConferenceProceeding").otherwise(""),
        F.when(video_336, "Video").otherwise(""),
        F.when(video_336 & online_338, "VideoOnline").otherwise(""),
    )
    per_007 = F.flatten(
        F.transform(
            f007s,
            lambda s: F.array(
                F.when(F.substring(s, 1, 1) == "v", "Video").otherwise(""),
                _fmt_007_col(s),
            ),
        )
    )
    candidates = F.filter(
        F.concat(specials, per_007, F.array(fmt_rtype, fmt_blevel)),
        lambda x: x != "",
    )
    fallback = (
        F.when(blevel.isin("c", "d"), "Kit")
        .when(rtype == "a", "Text")
        .otherwise("Unknown")
    )
    withfb = let1(
        candidates,
        lambda cands: F.when(F.size(cands) == 0, F.array(fallback)).otherwise(
            cands
        ),
    )
    # order-preserving dedup (getFormats: array_unique keeps first occurrence)
    return F.aggregate(
        withfb,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc).otherwise(
            F.concat(acc, F.array(x))
        ),
    )
