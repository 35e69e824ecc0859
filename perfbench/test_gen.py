"""Tests for the seeded input generators (run: python3 perfbench/run.py --self-test)."""
import os
import re
import tempfile
import unittest

import pyarrow.parquet as pq

import gen

SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work", "tmp")


def tmpdir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=SCRATCH)


def read(path):
    with open(path, "rb") as f:
        return f.read()


class TablesTest(unittest.TestCase):
    def test_same_seed_same_rows_other_seed_other_rows(self):
        with tmpdir() as d:
            gen.tables(f"{d}/a", 5, 0.001)
            gen.tables(f"{d}/b", 5, 0.001)
            gen.tables(f"{d}/c", 6, 0.001)
            for t in ["lineitem", "documents", "embeddings", "events"]:
                a = pq.read_table(f"{d}/a/{t}.parquet")
                self.assertTrue(a.equals(pq.read_table(f"{d}/b/{t}.parquet")), t)
                self.assertFalse(a.equals(pq.read_table(f"{d}/c/{t}.parquet")), t)

    def test_schema_and_sizes(self):
        with tmpdir() as d:
            gen.tables(d, 1, 0.01)
            li = pq.read_table(f"{d}/lineitem.parquet")
            self.assertEqual(li.num_rows, 60000)
            self.assertEqual(str(li.schema.field("l_shipdate").type), "timestamp[us]")
            self.assertEqual(str(li.schema.field("l_linenumber").type), "int32")
            ev = pq.read_metadata(f"{d}/events.parquet")
            self.assertEqual(ev.num_row_groups, 1)
            emb = pq.read_table(f"{d}/embeddings.parquet")
            self.assertEqual(str(emb.schema.field("embedding").type), "list<element: float>")
            docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
            self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])
            self.assertLess(len(set(docs["text"])), len(docs["text"]))  # has duplicates


class WikiDumpTest(unittest.TestCase):
    def test_deterministic_by_seed(self):
        with tmpdir() as d:
            gen.wiki_dump(f"{d}/a.xml", 3, 1)
            gen.wiki_dump(f"{d}/b.xml", 3, 1)
            gen.wiki_dump(f"{d}/c.xml", 4, 1)
            self.assertEqual(read(f"{d}/a.xml"), read(f"{d}/b.xml"))
            self.assertNotEqual(read(f"{d}/a.xml"), read(f"{d}/c.xml"))

    def test_every_link_quirk_is_present(self):
        with tmpdir() as d:
            gen.wiki_dump(f"{d}/w.xml", 9, 2)
            xml = read(f"{d}/w.xml").decode("utf-8")
        self.assertGreater(len(xml.encode()), 2_000_000)
        self.assertIn("|", xml)                                      # piped
        self.assertIn("[[Genesis: storia]]", xml)                    # "s:" needle
        self.assertIn("[[Vedi File:", xml)                           # needle not at start
        self.assertRegex(xml, r"\[\[[^\]\n]*\n[^\[\n]*\]\]")         # broken by newline
        self.assertRegex(xml, r"\[\[[^\]|]+, [^\]]+\]\]")            # comma
        self.assertIn("[[[", xml)                                    # stray bracket
        self.assertIn("[[ , ]]", xml)                                # empty after cleanup
        self.assertTrue(any(ord(c) > 127 for c in xml))             # non-ASCII titles
        self.assertIn("&amp;", xml)                                  # escaped text
        self.assertIn('xml:space="preserve"></text>', xml)           # empty text page
        pages = re.findall(r"<title>(.*?)</title>.*?<text[^>]*>(.*?)</text>", xml, re.S)
        self.assertTrue(any(f"[[{t.strip()}]]" in body for t, body in pages))  # self-link
        self.assertTrue(any(re.search(r"(\[\[[^\]]+\]\]) \1", body) for _, body in pages))


class CacheTest(unittest.TestCase):
    def test_builds_once_and_keeps_the_newest(self):
        calls = []

        def build(d):
            calls.append(d)
            with open(os.path.join(d, "x"), "w") as f:
                f.write("x")

        with tmpdir() as root:
            a = gen.cached(root, "k", 1, 1, build, keep=2)
            self.assertEqual(gen.cached(root, "k", 1, 1, build, keep=2), a)
            self.assertEqual(len(calls), 1)
            gen.cached(root, "k", 2, 1, build, keep=2)
            gen.cached(root, "k", 3, 1, build, keep=2)
            self.assertEqual(sorted(os.listdir(root)), ["k-1-s2", "k-1-s3"])


if __name__ == "__main__":
    unittest.main()
