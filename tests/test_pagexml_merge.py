"""PAGE-XML merge-back sink (reference ocrd/cli.py:240-290): TextEquiv
insertion + renumbering, split suffixes, Word pruning, region re-roll, and
the Spark merge path end-to-end through the real aligner."""
from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from nmalign_spark.sinks.pagexml_merge import (merge_page_xml,
                                               merge_pages_df,
                                               parse_line_equivs)
from nmalign_spark.sources.pagexml import (make_hierarchy_xml, make_page_xml,
                                           parse_page_lines)

GT = ["Was ist Aufklärung?", "Der Ausgang des Menschen",
      "aus seiner selbst verschuldeten Unmündigkeit"]
OCR = ["Was iſt Aufklaͤrung?", "Der Ausgang des Menſchen",
       "aus ſeiner ſelbſt verſchuldeten Unmuͤndigkeit"]


def by_line(equivs):
    out = {}
    for lid, pos, idx, text, conf, dt, dtd in equivs:
        out.setdefault(lid, []).append((pos, idx, text, conf, dt, dtd))
    return out


class TestMerge:
    def test_insert_and_renumber(self):
        xml = make_page_xml(OCR, junk_equiv=True, confs=[0.5, 0.75, 0.25])
        matches = [(i, i, -1, -1, 0.9, GT[i]) for i in range(3)]
        merged = merge_page_xml(xml, matches, other_grp="GT")
        lines = by_line(parse_line_equivs(merged))
        for i in range(3):
            tes = lines[f"l{i:04d}"]
            assert [t[1] for t in tes] == [0, 1, 2]       # index order
            pos0 = tes[0]
            assert pos0[2] == GT[i] and pos0[3] == 0.9
            assert pos0[4] == "other"
            assert pos0[5] == f"GT/line{i:04d}"
            assert tes[1][2] == OCR[i]                     # original first
            assert tes[2][2] == "JUNK-IGNORE"
        # the merged doc's unicode0 is now the GT text (byte-identical)
        assert [t for _, t, _ in parse_page_lines(merged)] == GT

    def test_seven_tuple_uses_original_line_no(self):
        """7-tuple matches carry the ORIGINAL pre-filter line number; the
        fallback id must use it, not the filtered index j — the reference
        assigns line%04d before the empty-line deletion (cli.py:213-226)."""
        xml = make_page_xml(OCR)
        matches = [(0, 0, 0, -1, -1, 1.0, GT[0]),
                   (1, 1, 2, -1, -1, 1.0, GT[1])]
        merged = merge_page_xml(xml, matches)
        lines = by_line(parse_line_equivs(merged))
        assert lines["l0000"][0][5] == "GT/line0000"
        assert lines["l0001"][0][5] == "GT/line0002"

    def test_split_suffix_and_slice(self):
        xml = make_page_xml(OCR)
        long = "PREFIX " + GT[0] + " SUFFIX"
        matches = [(0, 0, 7, 7 + len(GT[0]), 0.8, long[7:7 + len(GT[0])])]
        merged = merge_page_xml(xml, matches)
        tes = by_line(parse_line_equivs(merged))["l0000"]
        assert tes[0][2] == GT[0]
        assert tes[0][5] == f"GT/line0000[7:{7 + len(GT[0])}]"

    def test_unmatched_line_renumbered_but_no_insert(self):
        xml = make_page_xml(OCR, junk_equiv=True)
        matches = [(0, 0, -1, -1, 1.0, OCR[0]), (1, -1, -1, -1, 0.0, None)]
        merged = merge_page_xml(xml, matches)
        lines = by_line(parse_line_equivs(merged))
        assert [t[1] for t in lines["l0001"]] == [1, 2]    # renumbered only
        assert [t[1] for t in lines["l0000"]] == [0, 1, 2]
        # line 2 had no match row at all -> same as unmatched
        assert [t[1] for t in lines["l0002"]] == [1, 2]

    def test_word_pruning_and_region_rollup(self):
        xml = make_hierarchy_xml([["Alpha", "Beta"], ["Gamma"]],
                                 word_level=True)
        matches = [(0, 0, -1, -1, 0.75, "alpha beta"),
                   (1, 1, -1, -1, 0.5, "gamma")]
        merged = merge_page_xml(xml, matches)
        assert b"<Word" not in merged
        # region TextEquiv re-rolled from the NEW line texts
        import xml.etree.ElementTree as ET
        root = ET.fromstring(merged)
        regions = [e for e in root.iter() if e.tag.endswith("TextRegion")]
        te = [c for c in regions[0] if c.tag.endswith("TextEquiv")]
        assert len(te) == 1
        uni = [c for c in te[0] if c.tag.endswith("Unicode")][0]
        assert uni.text == "alpha beta\ngamma"
        assert float(te[0].get("conf")) == (0.75 + 0.5) / 2

    def test_region_rollup_sees_join_relations_before_word_pruning(self):
        """Reference order (cli.py:278-279): update-higher BEFORE
        remove-lower — the line->region join suppression reads word ids
        from Relation@type=join, so Words must still exist when the region
        text is rolled."""
        xml = make_hierarchy_xml([["Alpha", "Beta"], ["Gamma"]],
                                 word_level=True, join_first_lines=True)
        merged = merge_page_xml(xml, [(0, 0, -1, -1, 1.0, "alpha beta"),
                                      (1, 1, -1, -1, 1.0, "gamma")])
        assert b"<Word" not in merged
        import xml.etree.ElementTree as ET
        root = ET.fromstring(merged)
        region = [e for e in root.iter() if e.tag.endswith("TextRegion")][0]
        te = [c for c in region if c.tag.endswith("TextEquiv")][0]
        uni = [c for c in te if c.tag.endswith("Unicode")][0]
        # join between line 0's last word and line 1's first word
        # suppresses the '\n' separator
        assert uni.text == "alpha betagamma"

    def test_namespace_preserved(self):
        xml = make_page_xml(OCR)
        merged = merge_page_xml(xml, [(0, 0, -1, -1, 1.0, GT[0])])
        assert b"ns0:" not in merged
        assert b"http://schema.primaresearch.org/PAGE" in merged


_line_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
    min_size=0, max_size=40)


class TestRoundtripProperty:
    @settings(max_examples=60, deadline=None)
    @given(st.lists(_line_text, min_size=1, max_size=6),
           st.lists(_line_text, min_size=1, max_size=6))
    def test_merge_roundtrip_any_unicode(self, ocr, gt):
        """For ARBITRARY unicode line texts (XML-escaping, surrogates
        excluded): merging identity matches and reparsing yields the GT
        text at @index=0 of every matched line, byte-identical, and the
        original text renumbered behind it."""
        xml = make_page_xml(ocr)
        n = min(len(ocr), len(gt))
        matches = [(i, i, -1, -1, 1.0, gt[i]) for i in range(n)]
        merged = merge_page_xml(xml, matches)
        lines = by_line(parse_line_equivs(merged))
        for i in range(len(ocr)):
            tes = lines[f"l{i:04d}"]
            if i < n:
                assert tes[0][1] == 0 and tes[0][2] == gt[i]
                assert tes[1][1] == 1 and tes[1][2] == ocr[i]
            else:
                assert tes[0][1] == 1 and tes[0][2] == ocr[i]


class TestSparkMerge:
    def test_merge_pages_df_end_to_end(self, spark):
        """XML pages -> segments -> real align_segments -> merge ->
        parse back: index-0 unicode per line is the GT text byte-identically
        (the north-rule invariant on the OCR-D-shaped flow)."""
        from nmalign_spark.operators.align import align_segments
        from nmalign_spark.sources.pagexml import pagexml_segments_df

        urls = [f"p{k}" for k in range(3)]
        pages = spark.createDataFrame(
            [(u, make_page_xml(OCR, junk_equiv=True).encode())
             for u in urls], "url string, xml binary")
        cand = pagexml_segments_df(pages, side=1) \
            .select("url", "side", "seq_no", "seg_text")
        ref = spark.createDataFrame(
            [(u, 2, j, t) for u in urls for j, t in enumerate(GT)],
            "url string, side int, seq_no int, seg_text string")
        norm = {"ſ": "s", "aͤ": "ä", "uͤ": "ü"}
        aligned = align_segments(cand.unionByName(ref), normalization=norm,
                                 try_subseg=False)
        merged = merge_pages_df(pages, aligned, other_grp="OCR-D-GT")
        got = {r.url: r.xml for r in merged.collect()}
        assert set(got) == set(urls)
        for u in urls:
            equivs = by_line(parse_line_equivs(got[u]))
            for i in range(3):
                tes = equivs[f"l{i:04d}"]
                assert tes[0][1] == 0 and tes[0][2] == GT[i]
                assert tes[0][3] == 1.0
                assert tes[0][5] == f"OCR-D-GT/line{i:04d}"

    def test_blank_partner_line_keeps_original_numbering(self, spark):
        """A blank partner line is deleted before alignment
        (cli.py:219-226) but surviving lines keep their pre-filter
        line%04d ids (assigned at cli.py:213-215): after the blank at
        original position 1, filtered j=1 must surface as line0002."""
        from nmalign_spark.operators.align import align_segments
        from nmalign_spark.sources.pagexml import pagexml_segments_df

        gt_with_blank = [GT[0], "   ", GT[1], GT[2]]
        pages = spark.createDataFrame(
            [("p0", make_page_xml(OCR).encode())], "url string, xml binary")
        cand = pagexml_segments_df(pages, side=1) \
            .select("url", "side", "seq_no", "seg_text")
        ref = spark.createDataFrame(
            [("p0", 2, j, t) for j, t in enumerate(gt_with_blank)],
            "url string, side int, seq_no int, seg_text string")
        norm = {"ſ": "s", "aͤ": "ä", "uͤ": "ü"}
        aligned = align_segments(cand.unionByName(ref), normalization=norm,
                                 try_subseg=False)
        merged = merge_pages_df(pages, aligned, other_grp="GT")
        xml = merged.collect()[0].xml
        equivs = by_line(parse_line_equivs(xml))
        want = ["line0000", "line0002", "line0003"]
        for i in range(3):
            assert equivs[f"l{i:04d}"][0][5] == f"GT/{want[i]}"
