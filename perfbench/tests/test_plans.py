import unittest

from bench import plans

NAMES = [f"{f}_q{i:02d}" for f in ("ann", "rel", "text", "stream") for i in range(30)]


class Plans(unittest.TestCase):
    def test_board_is_a_fixed_stride_in_name_order(self):
        self.assertEqual(plans.board(NAMES, 15), sorted(NAMES)[::8])  # ceil(110 / 15) = 8
        self.assertEqual(plans.board(list(reversed(NAMES)), 15), plans.board(NAMES, 15))

    def test_board_covers_everything_given_the_time(self):
        self.assertEqual(plans.board(NAMES, plans.BOARD_FULL_S), sorted(NAMES))

    def test_serve_permutation_is_deterministic_per_seed(self):
        self.assertEqual(plans.serve(3, 15), plans.serve(3, 15))
        self.assertNotEqual(plans.serve(3, 15), plans.serve(4, 15))

    def test_serve_blocks_call_each_query_once(self):
        seq = plans.serve(11, 15)
        n = len(plans.SERVE)
        self.assertEqual(len(seq), 3 * n)
        for b in range(3):
            self.assertEqual(sorted(seq[b * n:(b + 1) * n]), sorted(plans.SERVE))

    def test_kmeans_passes_follow_the_seconds(self):
        self.assertEqual(plans.kmeans_passes(12), 3)
        self.assertEqual(plans.kmeans_passes(1), 1)


if __name__ == "__main__":
    unittest.main()
