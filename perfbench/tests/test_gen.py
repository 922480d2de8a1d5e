import tempfile
import unittest
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from bench import gen


class Mixture(unittest.TestCase):
    def test_same_seed_same_points(self):
        a, b = gen.mixture(5, 3000), gen.mixture(5, 3000)
        for x, y in zip(a, b):
            np.testing.assert_array_equal(x, y)

    def test_other_seed_other_points(self):
        a, b = gen.mixture(5, 3000), gen.mixture(6, 3000)
        self.assertFalse(np.array_equal(a[1], b[1]))

    def test_ids_are_a_permutation(self):
        vec_id, points, label = gen.mixture(9, 2000)
        self.assertEqual(sorted(vec_id.tolist()), list(range(2000)))
        self.assertEqual(points.shape, (2000, gen.DIM))
        self.assertTrue(set(label.tolist()) <= set(range(gen.K)))

    def test_written_tables_repeat(self):
        with tempfile.TemporaryDirectory() as d:
            t = [pq.read_table(gen.write(21, 1000, Path(d) / str(i))) for i in range(2)]
            self.assertTrue(t[0].equals(t[1]))
            self.assertEqual(t[0].schema.field("embedding").type.value_type, "float")
            self.assertEqual(t[0].num_rows, 1000)


if __name__ == "__main__":
    unittest.main()
