"""Source lines the event-log fixture's call sites point into."""


class LakeTable:
    def _footer_stats_job(self, paths):
        def read_slice(batches):
            for b in batches:
                yield b  # line 8: inside the nested worker function

        return self.df(paths).mapInPandas(read_slice).collect()  # line 10
